"""DuckDB oracle check for the batch-query pass's outputs.

The JVM writes each query's output to <outputs>/<query>/*.parquet and the
queries' oracle SQL to <outputs>/oracle_sql.json. Comparison follows the
repository's oracle gate: columns sorted by name, equal row counts, and the
rows stringified and compared as sorted multisets.
"""
import json
import os

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df, df.astype(str).apply(lambda r: "|".join(r), axis=1).sort_values().reset_index(drop=True)


def compare(got, exp):
    """None when equal under the gate's rules, else a one-line reason."""
    got, gs = _rows(got)
    exp, es = _rows(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if not gs.equals(es):
        return f"{int((gs != es).sum())}/{len(gs)} rows differ"
    return None


def check(data_dir, out_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    misses = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df()
            exp = con.execute(sql).df()
            why = compare(got, exp)
        except Exception as e:  # a query or oracle that errors is a miss too
            why = f"error: {str(e).splitlines()[0][:200]}"
        if why:
            misses.append(f"oracle {name}: {why}")
    con.close()
    return {"attempted": len(oracle), "misses": misses}
