package geistbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One finished Spark job with its task-level totals. `group` is the job
  * group the harness set on the calling thread; `batch` is the streaming
  * batch id Spark attaches to jobs run inside a micro-batch.
  */
final case class JobRec(id: Int, group: String, batch: String, query: String,
    callSite: String, startMs: Long, endMs: Long, stages: Int, tasks: Long,
    recordsRead: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** A timed public call (publish, readback, swap, compile, construct, plan,
  * execute). Jobs whose group equals `group` are its children.
  */
final case class Span(layer: String, name: String, group: String,
    startMs: Long, durMs: Double)

/** Progress of one streaming micro-batch, as Spark reports it. */
final case class Progress(name: String, queryId: String, runId: String,
    batchId: Long, rows: Long, startMs: Long, durations: Map[String, Long]) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** The benchmark's own listeners: job/task totals per job, streaming
  * progress per batch, and the spans the workloads record around public
  * calls. Spans and job/task accounting exist only in traced runs, and the
  * job listener is attached part-way through the measured phase so a
  * traced run also times an untraced stretch (the tracing overhead).
  */
final class Probe(spark: SparkSession, traced: Boolean) {
  private val jobsOpen = new ConcurrentHashMap[Int, Array[Any]]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val stageTotals = new ConcurrentHashMap[Int, Array[Long]]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      jobsOpen.put(e.jobId, Array(prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), prop("sql.streaming.queryId"),
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""), e.time, e.stageIds.size))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = stageTotals.computeIfAbsent(e.stageId, _ => new Array[Long](5))
        t.synchronized {
          t(0) += 1
          t(1) += m.inputMetrics.recordsRead
          t(2) += m.shuffleReadMetrics.totalBytesRead
          t(3) += m.shuffleWriteMetrics.bytesWritten
          t(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = jobsOpen.remove(e.jobId)
      if (o != null) {
        val mine = stageToJob.asScala.collect { case (s, j) if j == e.jobId => s }.toSeq
        val tot = new Array[Long](5)
        mine.foreach { s =>
          stageToJob.remove(s)
          Option(stageTotals.remove(s)).foreach(t => (0 until 5).foreach(i => tot(i) += t(i)))
        }
        jobs.add(JobRec(e.jobId, o(0).toString, o(1).toString, o(2).toString,
          o(3).toString, o(4).asInstanceOf[Long], e.time, o(5).asInstanceOf[Int],
          tot(0), tot(1), tot(2), tot(3), tot(4)))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(Option(p.name).getOrElse(""), p.id.toString,
        p.runId.toString, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  spark.streams.addListener(streamListener)
  @volatile private var jobsAttached = false

  def attachJobs(): Unit = if (traced && !jobsAttached) {
    spark.sparkContext.addSparkListener(jobListener)
    jobsAttached = true
  }

  def detach(): Unit = {
    if (jobsAttached) spark.sparkContext.removeSparkListener(jobListener)
    jobsAttached = false
    spark.streams.removeListener(streamListener)
  }

  private val spanSeq = new AtomicLong(0)

  /** Time `f` as a span of `layer`, with its Spark jobs grouped under a
    * fresh job group so the listener can attribute them.
    */
  def span[T](layer: String, name: String)(f: => T): (T, Double) = {
    val group = s"$layer-${spanSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    val on = jobsAttached
    if (on) sc.setJobGroup(group, name, interruptOnCancel = false)
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val ms = (System.nanoTime() - t0) / 1e6
      if (on) spans.add(Span(layer, name, group, wall, ms))
      (r, ms)
    } finally if (on) sc.clearJobGroup()
  }

  /** Wait until Spark's listener bus has delivered every queued event. */
  def drain(): Unit = {
    try org.apache.spark.GeistBenchBridge.drainListeners(spark.sparkContext)
    catch { case _: Exception => }
  }

  /** A span's child jobs: by job group, or for a micro-batch span (group
    * `batch:<queryId>:<batchId>`) by the batch id Spark attached.
    */
  def jobsOf(group: String): Seq[JobRec] = group.split(':') match {
    case Array("batch", q, b) => jobs.asScala.filter(j => j.query == q && j.batch == b).toSeq
    case _ => jobs.asScala.filter(_.group == group).toSeq
  }

  /** Record a streaming micro-batch as a span of layer `batch`. */
  def batchSpan(p: Progress): Unit =
    spans.add(Span("batch", s"${p.name} batch ${p.batchId}", s"batch:${p.queryId}:${p.batchId}",
      p.startMs, p.durations.getOrElse("triggerExecution", 0L).toDouble))

  /** Span self time: the span's wall minus the union of its child jobs. */
  def selfMs(s: Span): Double = {
    val iv = jobsOf(s.group).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.durMs - covered)
  }

  /** Write spans (with their child jobs) as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { s =>
      val kids = jobsOf(s.group)
      sb.append(Json.write(Map("layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "self_ms" -> selfMs(s),
        "jobs" -> kids.map(j => Map("job" -> j.id, "call_site" -> j.callSite,
          "dur_ms" -> (j.endMs - j.startMs), "tasks" -> j.tasks))))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  /** Self time per layer, summed over spans, in ms. */
  def selfByLayer: Map[String, Double] =
    spans.asScala.toSeq.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }
}

/** JSON output through the Jackson mapper Spark already ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Result {
  /** Upper median (the middle sample of an odd count). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
}

/** Collects a workload's outcome: raw samples (run.py turns them into
  * medians and tails), scalar metrics, per-layer metrics, and the output
  * checks (every miss is named).
  */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val scalars = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val misses = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Seconds since JVM start at which each phase of the run ended. */
  def mark(phase: String): Unit = phases += phase ->
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  /** Count one checked operation; record a named miss when it failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) misses += what
  }

  def toJson: String = Json.write(Map(
    "attempted" -> attempted, "failed" -> misses.size.toLong,
    "misses" -> misses.take(50).toSeq,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
    "scalars" -> scalars.toMap, "layers" -> layers.toMap,
    "info" -> (info.toMap + ("phases_s" -> phases.toMap))))
}
