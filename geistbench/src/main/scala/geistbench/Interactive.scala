package geistbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.runtime.{Geist, Hooks, RuntimeConfig}

/** `interactive`: one client in a closed loop against a `geistapi` stream
  * whose spec is the `ingest_bulk` spec. Each iteration publishes one event
  * and reads its key back through `KeyedTableSink.keyValue`; every
  * `SwapEvery`-th iteration the client also hot-swaps a running
  * eventsim-source stream to its next version. A spec table is configured,
  * so the registry persists every version.
  *
  * The publish table is preloaded at set-up (a batch custom source under
  * the same stream id, then a hot-swap to the `geistapi` version), so each
  * read-back is a point lookup in a table much larger than one publish.
  */
object Interactive {
  val PreloadEvents = 5000
  val SwapEvery = 5
  val SwapResolutionMs = 60000
  val SwapEventsPerTrigger = 20
  val PublishIdBase = 100000000L
  val WarmupIterations = 2
  val StreamId = "bench-interactive"
  val SwapId = "bench-swap"

  final class Session(spark: SparkSession, root: Path, preload: Path) {
    val geist = new Geist(spark, RuntimeConfig(
      sinkRoot = Some(root.resolve("sink").toString),
      specTablePath = Some(root.resolve("specs").toString),
      retryBackoffBaseMs = 1,
      preTransformHook = Some((_: String, e: String) => Hooks.Proceed(e)),
      customSources = Map("benchpreload" -> ((s: SparkSession, _: graft.spec.StreamSpec) =>
        s.read.text(preload.toString)))))
    var swapVersion = 0

    def register(spec: String): Unit =
      geist.registerStream(spec).fold(e => sys.error(s"spec rejected: ${e.msg}"), identity)
    def swap(): Unit = {
      swapVersion += 1
      register(Specs.eventsim("swap", swapVersion, SwapResolutionMs, SwapEventsPerTrigger))
    }
    def sink: graft.sinks.KeyedTableSink =
      geist.readback(StreamId).getOrElse(sys.error("no keyed sink for the publish stream"))
  }

  /** The publish loop's events: purchase and view events only, so every
    * publish stores exactly one keyed row.
    */
  final class Publisher(seed: Long) {
    private var next = PublishIdBase
    def nextEvent(): EventGen.Event = {
      var e = EventGen.event(seed, next); next += 1
      while (e.expected.isEmpty) { e = EventGen.event(seed, next); next += 1 }
      e
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, traced: Boolean,
      work: Path, probe: Probe, res: Result, setupRounds: Int): Unit = {
    val t0 = System.nanoTime()
    val preload = work.resolve("preload.json")
    val pre = EventGen.writeChunk(seed, 0L, PreloadEvents, preload)
    res.info("gen_s") = (System.nanoTime() - t0) / 1e9
    res.mark("gen")
    res.info("input") = Map("preload_events" -> PreloadEvents,
      "preload_keyed_rows" -> pre.keyedRows, "swap_every" -> SwapEvery,
      "swap_resolution_ms" -> SwapResolutionMs)

    var sess: Session = null
    val pub = new Publisher(seed)
    def iteration(s: Session, record: Boolean): Unit = {
      val e = pub.nextEvent()
      val exp = e.expected.get
      val (_, pubMs) = probe.span("publish", s"publish ${e.id}") {
        s.geist.publish(StreamId, e.json)
      }
      val (rows, readMs) = probe.span("readback", s"keyValue ${e.id}") {
        Readback.lookup(spark, s.sink, exp.key)
      }
      if (record) {
        res.sample("publish_ms", pubMs)
        res.sample("readback_ms", readMs)
        res.check(rows == Seq(exp), s"read-back of ${exp.key}: got ${rows.mkString(",")}, expected $exp")
      }
    }
    (0 until setupRounds).foreach { r =>
      if (sess != null) sess.geist.shutdown()
      val s0 = System.nanoTime()
      sess = new Session(spark, work.resolve(s"round$r"), preload)
      sess.register(Specs.event("interactive", 1, "benchpreload"))
      sess.register(Specs.event("interactive", 2, "geistapi"))
      sess.swap()
      (0 until WarmupIterations).foreach(_ => iteration(sess, record = false))
      res.sample("setup_s", (System.nanoTime() - s0) / 1e9)
    }
    // the preload went through the stream's own counters: pin them
    val m0 = sess.geist.metrics(StreamId)
    res.check(m0("EventsStoredInSink") == pre.storedInSink + WarmupIterations,
      s"preload stored ${m0("EventsStoredInSink") - WarmupIterations}, expected ${pre.storedInSink}")

    res.mark("setup")
    val openMs = System.currentTimeMillis()
    val untracedUntil = if (traced) openMs + seconds * 500L else openMs
    val closeMs = openMs + seconds * 1000L
    var iterations = 0
    val swapStarts = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val loop0 = System.nanoTime()
    while (System.currentTimeMillis() < closeMs) {
      if (System.currentTimeMillis() >= untracedUntil) probe.attachJobs()
      iteration(sess, record = true)
      iterations += 1
      if (iterations % SwapEvery == 0) {
        val at = System.currentTimeMillis()
        val (_, ms) = probe.span("swap", s"swap v${sess.swapVersion + 1}")(sess.swap())
        swapStarts += at -> sess.swapVersion
        res.sample("swap_ms", ms)
      }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    res.mark("measure")
    res.scalars("throughput_per_s") = iterations / loopS
    res.info("iterations") = iterations
    res.scalars("heap_live_mb") = Main.heapLiveMb(spark)

    // swap resume: from the upgrading call to the first committed batch of
    // the new run
    val deadline = System.currentTimeMillis() + 5000
    def swapRuns = probe.progress.asScala.toSeq.filter(_.name == SwapId)
      .groupBy(_.runId).values.map(_.minBy(_.batchId)).toSeq.sortBy(_.startMs)
    while (swapRuns.count(_.startMs >= openMs) < swapStarts.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    swapStarts.foreach { case (at, v) =>
      swapRuns.find(_.startMs >= at) match {
        case Some(p) => res.sample("swap_resume_ms", (p.endMs - at).toDouble)
        case None => res.check(ok = false, s"swap to v$v: no batch of the new run committed")
      }
    }
    // preload + the set-up publishes + every measured publish
    val stored = sess.geist.metrics(StreamId)("EventsStoredInSink")
    val want = pre.storedInSink + WarmupIterations + res.samples.get("publish_ms").map(_.size).getOrElse(0)
    res.check(stored == want, s"publish stream stored $stored, expected $want")
    // the registry persisted every version of the swapped stream
    val versions = spark.read.parquet(work.resolve(s"round${setupRounds - 1}").resolve("specs").toString)
      .filter(org.apache.spark.sql.functions.col("id") === SwapId)
      .select("version").collect().map(_.getInt(0)).sorted.toSeq
    res.check(versions == (1 to sess.swapVersion), s"persisted swap versions $versions, expected 1..${sess.swapVersion}")

    if (traced) {
      probe.drain()
      val spans = probe.spans.asScala.toSeq
      def perSpan(layer: String)(f: Seq[JobRec] => Double): Double = {
        val ss = spans.filter(_.layer == layer)
        if (ss.isEmpty) 0.0 else ss.map(s => f(probe.jobsOf(s.group))).sum / ss.size
      }
      res.layers("runtime.jobs_per_publish") = perSpan("publish")(_.size.toDouble)
      res.layers("runtime.job_ms_per_publish") =
        perSpan("publish")(js => js.map(j => (j.endMs - j.startMs).toDouble).sum)
      res.layers("runtime.records_read_per_publish") = perSpan("publish")(_.map(_.recordsRead).sum.toDouble)
      res.layers("runtime.jobs_per_swap") = perSpan("swap")(_.size.toDouble)
      val swapBatches = probe.progress.asScala.toSeq.filter(p => p.name == SwapId && p.startMs >= openMs)
      if (swapBatches.nonEmpty) {
        res.layers("sources.eventsim_rows_per_trigger") = swapBatches.map(_.rows).sum.toDouble / swapBatches.size
        res.layers("sources.eventsim_busy_frac") =
          swapBatches.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble /
            (swapBatches.size * SwapResolutionMs)
      }
      val pubSpans = spans.filter(s => s.layer == "publish" && s.startMs >= untracedUntil)
      val untraced = res.samples("publish_ms").take(res.samples("publish_ms").size - pubSpans.size)
      if (untraced.nonEmpty && pubSpans.nonEmpty) {
        val a = Result.median(pubSpans.map(_.durMs)); val b = Result.median(untraced.toSeq)
        res.layers("trace.overhead_ms") = a - b
        res.layers("trace.overhead_frac") = (a - b) / b
      }
      Readback.layers(probe, res)
    }
    val table = work.resolve(s"round${setupRounds - 1}").resolve("sink").resolve(StreamId)
    val files = Files.walk(table).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    res.layers("sinks.files_in_table") = files.size
    res.layers("sinks.bytes_in_table") = files.map(Files.size).sum
    sess.geist.shutdown()
    res.mark("checks")
  }
}
