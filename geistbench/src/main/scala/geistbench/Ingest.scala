package geistbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.runtime.{Geist, Hooks, RuntimeConfig}

/** `ingest_bulk`: one deployed stream drains a seeded backlog through the
  * benchmark spec into a keyed parquet sink, with the pre-transform hook on.
  *
  * The backlog is a pool of JSON-lines chunk files generated once per run.
  * A feeder thread hard-links the next chunk into the stream's source
  * directory as soon as the previous micro-batch has been processed, and
  * the file source reads one file per trigger: a closed loop, like
  * executors draining a Kafka backlog, where the next micro-batch is read
  * when the previous one commits. Chunks are reused round-robin, so a key can be stored more than
  * once; the checks expect exactly as many copies as times it was fed.
  */
object Ingest {
  val ChunkEvents = 40000
  val PoolChunks = 4
  val WarmupBatches = 1
  val SampleKeys = 6

  final class Pool(val dir: Path, val stats: Vector[EventGen.Stats])

  def generatePool(seed: Long, dir: Path): Pool = {
    Files.createDirectories(dir)
    val stats = (0 until PoolChunks).map { c =>
      EventGen.writeChunk(seed, c.toLong * ChunkEvents, ChunkEvents, dir.resolve(f"chunk-$c%03d.json"))
    }.toVector
    new Pool(dir, stats)
  }

  /** One deployed stream plus the thread that feeds it chunk files. */
  final class Deployment(spark: SparkSession, pool: Pool, root: Path, val id: String) {
    private val in = Files.createDirectories(root.resolve("in"))
    val sinkRoot: Path = root.resolve("sink")
    @volatile var fed = 0
    private val feeding = new AtomicBoolean(true)
    val geist = new Geist(spark, RuntimeConfig(
      sinkRoot = Some(sinkRoot.toString),
      retryBackoffBaseMs = 1,
      preTransformHook = Some((_: String, e: String) => Hooks.Proceed(e)),
      customSources = Map("benchbacklog" -> ((s: SparkSession, _: graft.spec.StreamSpec) =>
        s.readStream.option("maxFilesPerTrigger", 1L).text(in.toString)))))
    def batches: Long = geist.metrics(id).getOrElse("Microbatches", 0L)

    private val feeder = new Thread(() => {
      while (feeding.get()) {
        if (fed <= batches) {
          val src = pool.dir.resolve(f"chunk-${fed % PoolChunks}%03d.json")
          val dst = in.resolve(f"feed-$fed%06d.json")
          try Files.createLink(dst, src)
          catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(src, dst) }
          fed += 1
        } else Thread.sleep(1)
      }
    }, "geistbench-feeder")
    feeder.setDaemon(true)

    def start(spec: String): Unit = {
      feeder.start()
      geist.registerStream(spec).fold(e => sys.error(s"spec rejected: ${e.msg}"), identity)
    }

    def awaitBatches(n: Long, timeoutMs: Long = 120000): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (batches < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
      require(batches >= n, s"stream $id did not reach $n batches")
    }

    /** Stop feeding and stop the stream; with `drain`, first let the
      * chunk in flight finish so the counters cover whole chunks.
      */
    def stop(drain: Boolean): Unit = {
      feeding.set(false)
      feeder.join()
      if (drain) awaitBatches(fed)
      geist.shutdown()
    }

    /** Expected totals over every chunk fed so far. */
    def fedStats: EventGen.Stats =
      (0 until fed).map(i => pool.stats(i % PoolChunks)).foldLeft(EventGen.NoStats)(_ + _)
  }

  private def streamSpec = Specs.event("ingest", 1, "benchbacklog")
  val StreamId = "bench-ingest"

  def run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
      work: Path, probe: Probe, res: Result, setupRounds: Int): Unit = {
    val t0 = System.nanoTime()
    val pool = generatePool(seed, work.resolve("pool"))
    res.info("gen_s") = (System.nanoTime() - t0) / 1e9
    res.mark("gen")
    val sizes = (0 until 2000).map(i => EventGen.event(seed, i.toLong).bytes).sorted
    res.info("input") = Map(
      "chunk_events" -> ChunkEvents, "pool_chunks" -> PoolChunks,
      "event_bytes_p5" -> sizes(100), "event_bytes_p50" -> sizes(1000),
      "event_bytes_p95" -> sizes(1900),
      "event_bytes_mean" -> pool.stats.map(_.bytes).sum.toDouble / pool.stats.map(_.events).sum,
      "share_by_kind" -> EventGen.KindNames.zipWithIndex.map { case (k, i) =>
        k -> pool.stats.map(_.byKind(i)).sum.toDouble / pool.stats.map(_.events).sum }.toMap,
      "regexp_miss_share" -> pool.stats.map(_.regexpMisses).sum.toDouble / pool.stats.map(_.events).sum)

    // set-up rounds: deploy + warm-up, each on a fresh sink; the last
    // round's deployment is the one measured
    var dep: Deployment = null
    (0 until setupRounds).foreach { r =>
      if (dep != null) dep.stop(drain = false)
      val s0 = System.nanoTime()
      dep = new Deployment(spark, pool, work.resolve(s"round$r"), StreamId)
      dep.start(streamSpec)
      dep.awaitBatches(WarmupBatches)
      res.sample("setup_s", (System.nanoTime() - s0) / 1e9)
    }

    res.mark("setup")
    // measure: batches that start after the window opens and end before
    // it closes
    val openMs = System.currentTimeMillis()
    val untracedUntil = if (traced) openMs + seconds * 500L else openMs
    val closeMs = openMs + seconds * 1000L
    var jobsAttached = !traced
    while (System.currentTimeMillis() < closeMs) {
      if (!jobsAttached && System.currentTimeMillis() >= untracedUntil) {
        probe.attachJobs(); jobsAttached = true
      }
      Thread.sleep(5)
    }
    val fedAtClose = dep.fed
    dep.stop(drain = true)
    probe.drain()
    res.mark("measure")
    val batches = probe.progress.asScala.toSeq
      .filter(p => p.name == StreamId && p.startMs >= openMs && p.endMs <= closeMs && p.rows > 0)
      .sortBy(_.startMs)
    require(batches.nonEmpty, "no batch completed inside the measured window")
    batches.foreach { b =>
      res.sample("op_ms", b.durations.getOrElse("triggerExecution", 0L).toDouble)
      res.check(b.rows == ChunkEvents, s"batch ${b.batchId} read ${b.rows} rows, expected $ChunkEvents")
    }
    val events = batches.map(_.rows).sum
    val spanMs = batches.last.endMs - batches.head.startMs
    res.scalars("throughput_per_s") = events * 1000.0 / spanMs
    res.info("measured_batches") = batches.size
    res.info("fed_at_close") = fedAtClose
    if (traced) {
      val (before, after) = batches.partition(_.startMs < untracedUntil)
      def p50(xs: Seq[Progress]) = Result.median(xs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
      if (before.nonEmpty && after.nonEmpty) {
        res.layers("trace.overhead_ms") = p50(after) - p50(before)
        res.layers("trace.overhead_frac") = (p50(after) - p50(before)) / p50(before)
      }
      batchLayers(probe, after, res)
    }
    res.scalars("heap_live_mb") = Main.heapLiveMb(spark)

    checkOutputs(spark, dep, seed, res, probe, traced)
  }

  /** Events/s of the same stream on the given (single-thread) session:
    * one warm-up batch, then SingleThreadBatches measured batches.
    */
  val SingleThreadBatches = 2
  def singleThread(spark: SparkSession, root: Path): Double = {
    val probe = new Probe(spark, traced = false)
    val pool = new Pool(root.getParent.resolve("pool"), Vector.empty)
    val dep = new Deployment(spark, pool, root, StreamId)
    try {
      dep.start(streamSpec)
      dep.awaitBatches(1 + SingleThreadBatches)
    } finally { dep.stop(drain = false); probe.drain(); probe.detach() }
    val bs = probe.progress.asScala.toSeq.filter(b => b.name == StreamId && b.rows > 0)
      .sortBy(_.batchId).slice(1, 1 + SingleThreadBatches)
    bs.map(_.rows).sum * 1000.0 / (bs.last.endMs - bs.head.startMs)
  }

  /** Per-batch runtime layer metrics over the traced batches. */
  private def batchLayers(probe: Probe, batches: Seq[Progress], res: Result): Unit = {
    if (batches.isEmpty) return
    batches.foreach(probe.batchSpan)
    val jobs = batches.flatMap(b => probe.jobsOf(s"batch:${b.queryId}:${b.batchId}"))
    val n = batches.size.toDouble
    val events = batches.map(_.rows).sum.toDouble
    res.layers("runtime.jobs_per_batch") = jobs.size / n
    res.layers("runtime.stages_per_batch") = jobs.map(_.stages).sum / n
    res.layers("runtime.tasks_per_batch") = jobs.map(_.tasks).sum / n
    res.layers("runtime.records_read_per_event") = jobs.map(_.recordsRead).sum / events
    Seq("addBatch", "queryPlanning", "walCommit", "latestOffset").foreach { k =>
      res.layers(s"runtime.trigger_${k}_ms") = batches.map(_.durations.getOrElse(k, 0L)).sum / n
    }
    res.info("traced_batches") = batches.size
  }

  private def checkOutputs(spark: SparkSession, dep: Deployment, seed: Long,
      res: Result, probe: Probe, traced: Boolean): Unit = {
    val m = dep.geist.metrics(StreamId)
    val want = dep.fedStats
    def eq(name: String, got: Long, exp: Long): Unit =
      res.check(got == exp, s"$name = $got, expected $exp")
    eq("Microbatches", m("Microbatches"), dep.fed)
    eq("EventsProcessed", m("EventsProcessed"), want.events)
    eq("BytesProcessed", m("BytesProcessed"), want.bytes)
    eq("EventsStoredInSink", m("EventsStoredInSink"), want.storedInSink)
    eq("BytesIngested", m("BytesIngested"), want.bytesIngested)
    val dlq = spark.read.parquet(dep.sinkRoot.resolve(s"${StreamId}__dlq").toString).count()
    eq("dlq rows", dlq, want.regexpMisses)
    val table = dep.sinkRoot.resolve(StreamId)
    eq("keyed table rows", spark.read.parquet(table.toString).count(), want.keyedRows)
    res.layers("runtime.batch_ms") = m("EventProcessingTimeMicros") / 1000.0 / m("Microbatches")
    res.layers("runtime.sink_ms_per_load") =
      m("SinkProcessingTimeMicros") / 1000.0 / math.max(1L, m("SinkOperations"))

    // a seeded sample of stored keys, read back through the sink's
    // key lookup; a key fed k times must come back as k identical rows
    val sink = new graft.sinks.KeyedTableSink(table.toString)
    val rnd = new java.util.Random(seed ^ 0x5EEDL)
    val distinct = math.min(dep.fed, Ingest.PoolChunks).toLong * ChunkEvents
    var sampled = 0
    while (sampled < SampleKeys) {
      val id = (rnd.nextDouble() * distinct).toLong
      val ev = EventGen.event(seed, id)
      ev.expected.foreach { exp =>
        sampled += 1
        val chunk = (id / ChunkEvents).toInt
        val copies = (0 until dep.fed).count(_ % PoolChunks == chunk)
        val (rows, ms) = probe.span("readback", s"keyValue $id") {
          Readback.lookup(spark, sink, exp.key)
        }
        res.sample("readback_ms", ms)
        res.check(rows.size == copies && rows.forall(_ == exp),
          s"key ${exp.key}: got ${rows.take(2).mkString(",")} x${rows.size}, expected $exp x$copies")
      }
    }
    val files = Files.walk(table).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    res.layers("sinks.files_in_table") = files.size
    res.layers("sinks.bytes_in_table") = files.map(Files.size).sum
    if (traced) Readback.layers(probe, res)
    res.mark("checks")
  }
}
