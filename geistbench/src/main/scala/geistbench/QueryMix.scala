package geistbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The batch-query part of interactive's traced run: a pass over a fixed
  * subset of `SparkEntry.queries` on seeded tables (run.py generates them),
  * each query materialized through the noop sink and traced as construct
  * (building the DataFrame, which may run eager jobs), plan (physical
  * planning) and execute.
  *
  * Before it, one pass writes every query's output for run.py's DuckDB
  * oracle check; it doubles as the warm-up.
  */
object QueryMix {
  /** Every `Stride`-th query in name order, plus the iterative loops. */
  val Stride = 24
  val Loops = Seq("ns_bradley_terry", "ns_kcore", "ns_seed_distance")

  def mix: Seq[String] = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    (names.indices.filter(_ % Stride == 0).map(names) ++ Loops).distinct
  }

  def run(spark: SparkSession, work: Path, probe: Probe, res: Result): Unit = {
    val data = work.resolve("data").toString
    val out = work.resolve("outputs")
    val queries = mix
    res.info("query_mix") = queries

    Files.createDirectories(out)
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
      catch { case e: Throwable =>
        res.check(ok = false, s"query $q failed in the check pass: ${e.getMessage.take(200)}") }
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.write(queries.filter(q => oracle.contains(q) && Files.exists(out.resolve(q)))
        .map(q => q -> oracle(q)).toMap))
    res.mark("query-check-pass")

    probe.attachJobs()
    val from = System.currentTimeMillis()
    val p0 = System.nanoTime()
    queries.foreach { q =>
      val q0 = System.nanoTime()
      try {
        val (df, _) = probe.span("construct", q)(SparkEntry.queries(q)(spark, data))
        probe.span("plan", q)(df.queryExecution.executedPlan)
        probe.span("execute", q)(df.write.format("noop").mode("overwrite").save())
        res.sample("query_ms", (System.nanoTime() - q0) / 1e6)
      } catch { case e: Throwable =>
        res.check(ok = false, s"query $q failed: ${e.getMessage.take(200)}") }
    }
    res.info("query_total_s") = (System.nanoTime() - p0) / 1e9
    res.mark("query-pass")
    layers(probe, res, from)
  }

  private def layers(probe: Probe, res: Result, from: Long): Unit = {
    probe.drain()
    val spans = probe.spans.asScala.toSeq.filter(_.startMs >= from)
    def sumS(layer: String) = spans.filter(_.layer == layer).map(_.durMs).sum / 1e3
    def jobs(layer: String, names: Set[String] = Set.empty) =
      spans.filter(s => s.layer == layer && (names.isEmpty || names(s.name)))
        .flatMap(s => probe.jobsOf(s.group))
    res.layers("entries.construct_s") = sumS("construct")
    res.layers("entries.plan_s") = sumS("plan")
    res.layers("entries.execute_s") = sumS("execute")
    val construct = jobs("construct")
    res.layers("entries.construct_jobs") = construct.size
    res.layers("entries.schema_jobs") = construct.count(_.callSite.contains("parquet"))
    res.layers("ops.execute_jobs") = jobs("execute").size
    res.layers("ops.loop_jobs") = Seq("construct", "plan", "execute")
      .map(l => jobs(l, Loops.toSet).size).sum
    val all = Seq("construct", "plan", "execute").flatMap(jobs(_))
    def mb(f: JobRec => Long) = all.map(f).sum / 1048576.0
    res.layers("ops.shuffle_write_mb") = mb(_.shuffleWrite)
    res.layers("ops.shuffle_read_mb") = mb(_.shuffleRead)
    res.layers("ops.spill_mb") = mb(_.spill)
  }
}
