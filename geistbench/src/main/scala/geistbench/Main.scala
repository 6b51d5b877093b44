package geistbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (run.py launches it; see NOTES.md).
  *
  *   geistbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> [cpus]
  *   geistbench.Main gen <seed> <outFile>   (generator determinism check)
  *
  * Writes `<workDir>/result.json`: raw samples, scalar metrics, per-layer
  * metrics and the named output-check misses. run.py turns the samples
  * into medians and tails and prints the benchmark's result line.
  */
object Main {
  val SetupRounds = 3

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("geistbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after forced collections, in MB. Cached blocks are
    * removed asynchronously after an unpersist, so first wait (up to
    * 0.5 s) until the block manager's storage memory is free again.
    */
  def heapLiveMb(spark: SparkSession): Double = {
    val deadline = System.currentTimeMillis() + 500
    def storageUsed = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    while (storageUsed > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 4).map { _ =>
      System.gc(); Thread.sleep(50); mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("gen")) {
      val seed = args(1).toLong
      EventGen.writeChunk(seed, 0L, 5000, Paths.get(args(2)))
      return
    }
    val Array(workload, seedS, secondsS, traceS, workS) = args.take(5)
    val cpus = args.lift(5).map(_.toInt).getOrElse(4)
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val traced = traceS == "1"
    val work = Files.createDirectories(Paths.get(workS).toAbsolutePath)
    val res = new Result
    val spark = session(cpus, work)
    val probe = new Probe(spark, traced)
    res.mark("session")
    try {
      workload match {
        case "ingest_bulk" =>
          Ingest.run(spark, seed, seconds, traced, work, probe, res, SetupRounds)
          if (traced) {
            Layers.eventLayers(spark, seed, res)
            probe.writeSpans(work.resolve("spans.jsonl"))
            res.info("self_ms_by_layer") = probe.selfByLayer
          }
        case "interactive" =>
          Interactive.run(spark, seed, seconds, traced, work, probe, res, SetupRounds)
          if (traced) {
            Layers.specLayers(res)
            QueryMix.run(spark, work, probe, res)
            probe.writeSpans(work.resolve("spans.jsonl"))
            res.info("self_ms_by_layer") = probe.selfByLayer
          }
        case other => sys.error(s"unknown workload $other")
      }
    } finally {
      probe.detach()
      spark.stop()
    }
    if (workload == "ingest_bulk" && traced) {
      // single-thread baseline: the same stream on local[1]
      val one = session(1, work)
      try res.layers("runtime.events_per_s_1thread") =
        Ingest.singleThread(one, work.resolve("one-thread"))
      finally one.stop()
    }
    res.mark("done")
    Files.writeString(work.resolve("result.json"), res.toJson)
  }
}
