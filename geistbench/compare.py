#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 geistbench/compare.py BEFORE AFTER

BEFORE and AFTER are directories of run records as run.py keeps them
(.bench_work/results/<workload>-seed<n>-trace<t>.json; copy the directory
aside between the two sets). Untraced records are compared. For each workload
and metric it prints both sides' median and quartiles, the share of
(before, after) pairs the after side wins (a tie is no win), the median
change, and a verdict:

  improved      after wins at least 90% of pairs and the medians differ by
                more than before's inter-quartile distance
  regressed     after loses at least 90% of pairs and is worse beyond the bound
  unresolved    before's own spread (inter-quartile distance over the median)
                is wider than the bound, or after is worse beyond the bound
                without losing 90% of pairs
  within bound  otherwise: the median got no worse than the bound

End-to-end metrics use their BENCHMARK.json bound; the workload-specific
detail metrics (batch_ms_p50, publish_ms_p50, ...) use DEFAULT_BOUND.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

DEFAULT_BOUND = 0.1
DECISIVE = 0.9
HIGHER_BETTER = ("throughput_per_s", "events_per_s", "iterations_per_s")


def load(directory):
    """{workload: {metric: [values]}} over the untraced records in a directory."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") != 0:
            continue
        metrics = out.setdefault(rec["workload"], {})
        values = dict(rec["end_to_end"])
        values.update({k: v for k, v in rec["detail"].items()
                       if isinstance(v, (int, float)) and not k.endswith(("_percentile", "_samples"))})
        for k, v in values.items():
            if v is not None:
                metrics.setdefault(k, []).append(float(v))
    return out


def bounds():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    try:
        with open(path) as fh:
            spec = json.load(fh)
        return {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


def verdict(a, b, bound, better):
    ma, mb = stats.median(a), stats.median(b)
    change = (mb - ma) / ma if ma else 0.0
    worse = change if better == "lower" else -change
    share = stats.win_share(a, b, better)
    lost = stats.win_share(b, a, better)
    q1, _, q3 = stats.quartiles(a)
    if share >= DECISIVE and worse < 0 and abs(mb - ma) > q3 - q1:
        v = "improved"
    elif lost >= DECISIVE and worse > bound:
        v = "regressed"
    elif stats.spread(a) > bound or worse > bound:
        v = "unresolved"
    else:
        v = "within bound"
    return change, share, v


def compare(before, after, out=sys.stdout):
    known = bounds()
    rows = []
    for workload in sorted(set(before) & set(after)):
        for metric in sorted(set(before[workload]) & set(after[workload])):
            a, b = before[workload][metric], after[workload][metric]
            bound, better = known.get(metric, (DEFAULT_BOUND, None))
            if better is None:
                better = "higher" if metric in HIGHER_BETTER else "lower"
            change, share, v = verdict(a, b, bound, better)
            qa, qb = stats.quartiles(a), stats.quartiles(b)
            rows.append((workload, metric, qa, qb, share, change, v, len(a), len(b)))
    print(f"{'workload':<12} {'metric':<22} {'before q1/med/q3':>30} {'after q1/med/q3':>30} "
          f"{'won':>5} {'change':>8}  verdict", file=out)
    fmt = "{:.4g}/{:.4g}/{:.4g}"
    for w, m, qa, qb, share, change, v, na, nb in rows:
        print(f"{w:<12} {m:<22} {fmt.format(*qa):>30} {fmt.format(*qb):>30} "
              f"{share:>5.2f} {change:>+8.1%}  {v} (n={na}/{nb})", file=out)
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    compare(load(argv[1]), load(argv[2]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
