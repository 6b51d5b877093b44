package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The one owner of the iterative-loop checkpoint/release rule (SCALE.md
  * "Iterative operators — the loop-lineage rule"). Every operator with a
  * driver-side loop over DataFrames checkpoints and releases its round
  * frames through these two calls and nothing else.
  *
  * Why checkpoint: a round body that references the previous frame more
  * than once doubles the LOGICAL plan per round — cache() never truncates
  * lineage, a checkpoint does. Local checkpoints suffice in one JVM; they
  * are non-reliable storage, so on a cluster executor loss after a loop
  * means re-running the operator.
  *
  * The invariant: a round's frame is MATERIALIZED by a full-scan action
  * before any frame it supersedes has its checkpoint blocks released. A
  * checkpoint IS its data — once its lineage is truncated, dropping its
  * blocks makes it (and every frame built on it) unrecomputable. So:
  *   - [[materialize]] takes a lazy local checkpoint and makes one global
  *     aggregate over it the round's single action: the aggregate reads
  *     every partition, so the job that computes the probe also writes
  *     every checkpoint block and truncates lineage when it ends. The
  *     probe is a list of aggregate columns, not an arbitrary action, so a
  *     partial action (`isEmpty`, `take`, `limit`) that reads only some
  *     partitions can never be the materializing one. Loops fold their
  *     convergence test (emptiness, edge count, label fingerprint, max)
  *     into the probe, which keeps each round at one action.
  *   - [[release]] is called only on frames superseded by an
  *     already-materialized one, and never on a frame something still
  *     reads: a loop result built as a union of per-round checkpoints
  *     must itself be materialized before those leaves are released (at
  *     zero rounds the result IS the first leaf).
  *
  * A frame returned by [[materialize]] that a loop hands to its caller is
  * a local checkpoint: the ContextCleaner collects its blocks once it is
  * unreferenced, or the caller releases them eagerly with [[release]] —
  * plain `unpersist()` does not touch checkpoint blocks.
  */
object Loops {

  /** Lazily local-checkpoint `df` and compute `probe` (aggregate columns;
    * default `count(1)`) over the checkpoint as one global aggregate — the
    * action that materializes it. The aggregate is computed as observed
    * metrics of a plain scan of the checkpoint, read back from that same
    * execution, so the action is one job with no shuffle (`agg` plus
    * `collect` would be two under adaptive execution). Returns the
    * checkpointed frame and the probe's single row.
    */
  def materialize(df: DataFrame, probe: Column*): (DataFrame, Row) = {
    val cp = df.localCheckpoint(false)
    val aggs = if (probe.isEmpty) Seq(count(lit(1))) else probe
    val observed = cp.observe("probe", aggs.head, aggs.tail: _*).queryExecution
    observed.toRdd.foreach(_ => ())
    (cp, observed.observedMetrics("probe"))
  }

  /** Release superseded frames: clear their CacheManager entries
    * (`unpersist`) and drop the block-manager storage behind a local
    * checkpoint, which `unpersist` alone leaves to GC. Call only once the
    * frame that replaces them has been materialized.
    */
  def release(frames: DataFrame*): Unit = frames.foreach { df =>
    df.unpersist()
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }
  }
}
