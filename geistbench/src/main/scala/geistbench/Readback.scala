package geistbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.sinks.KeyedTableSink

/** Key read-back through `KeyedTableSink.keyValue`, decoded into the
  * generator's expected-row shape, plus the scan's file count.
  */
object Readback {
  @volatile private var filesScanned = 0L
  @volatile private var lookups = 0L

  def lookup(spark: SparkSession, sink: KeyedTableSink, key: String): Seq[EventGen.Expected] = {
    val df = sink.keyValue(spark, key).select("key", "user", "n", "x", "s", "t")
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    filesScanned += plan.collect { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    lookups += 1
    rows.map(r => EventGen.Expected(r.getString(0), r.getString(1), r.getLong(2),
      r.getDouble(3), r.getString(4), r.getTimestamp(5).getTime))
  }

  /** Jobs and scanned files per read-back, over the traced read-backs. */
  def layers(probe: Probe, res: Result): Unit = {
    probe.drain()
    val spans = probe.spans.toArray(Array.empty[Span]).filter(_.layer == "readback")
    if (spans.nonEmpty)
      res.layers("sinks.jobs_per_readback") =
        spans.map(s => probe.jobsOf(s.group).size).sum.toDouble / spans.length
    if (lookups > 0) res.layers("sinks.files_scanned_per_readback") = filesScanned.toDouble / lookups
  }
}
