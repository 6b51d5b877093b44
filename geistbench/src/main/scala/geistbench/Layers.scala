package geistbench

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.compile.SpecCompiler
import graft.json.Js
import graft.path.GJsonPath
import graft.spec.StreamSpec

/** Per-layer probes of the event path, run in traced runs only: each
  * times one public entry point in isolation on the workload's own spec
  * and events, and reports the median of several passes.
  */
object Layers {

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
  }

  /** `spec` and `compile`: parsing and compiling the benchmark spec. */
  def specLayers(res: Result): Unit = {
    val json = Specs.event("probe", 1, "geistapi")
    res.layers("spec.parse_us") =
      Result.median((0 until 200).map(_ => timed(StreamSpec.parse(json)) / 1e3))
    val spec = StreamSpec.parseUnsafe(json)
    res.layers("compile.compile_ms") =
      Result.median((0 until 50).map(_ => timed(SpecCompiler.compile(spec)) / 1e6))
  }

  val ProbeEvents = 50000

  /** `json`, `path` and `functions` on the first ProbeEvents events of the
    * seed, plus `spec` and `compile`.
    */
  def eventLayers(spark: SparkSession, seed: Long, res: Result): Unit = {
    specLayers(res)
    val evs = (0 until ProbeEvents).map(i => EventGen.event(seed, i.toLong).json).toArray
    res.layers("json.bytes_per_event") = evs.map(_.length.toLong).sum.toDouble / evs.length
    var sink = 0L
    res.layers("json.parse_ns_per_event") = Result.median((0 until 5).map { _ =>
      timed(evs.foreach(e => if (Js.parse(e).isDefined) sink += 1)) / evs.length
    })
    val roots = evs.map(e => Js.parse(e).get)
    val paths = Specs.paths.map(GJsonPath.parse)
    res.layers("path.eval_ns_per_event") = Result.median((0 until 5).map { _ =>
      timed(roots.foreach(r => paths.foreach(p => if (GJsonPath.eval(r, p).isDefined) sink += 1))) /
        roots.length
    })

    val df = spark.createDataset(evs.toSeq)(Encoders.STRING).toDF("value")
      .repartition(spark.sparkContext.defaultParallelism).cache()
    df.count()
    val pipeline = SpecCompiler.compile(StreamSpec.parseUnsafe(Specs.event("probe", 1, "geistapi")))
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    noop(df); pipeline(df).foreach { case (_, b) => noop(b) } // warm-up
    val perEvent = (0 until 3).map { _ =>
      val scan = timed(noop(df))
      val branches = pipeline(df).map { case (_, b) => timed(noop(b)) }
      (branches.sum - scan * branches.size) / evs.length
    }
    res.layers("functions.pipeline_ns_per_event") = Result.median(perEvent)
    df.unpersist()
    res.info("layer_probe_checksum") = sink
  }
}
