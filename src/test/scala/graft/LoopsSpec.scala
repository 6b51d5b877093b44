package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, Dedup, Graph, Loops}

/** The iterative-loop checkpoint/release rule and its single owner,
  * [[graft.ops.Loops]].
  */
class LoopsSpec extends AnyFunSuite {
  import SparkTestBase.spark
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run a loop operator, read its result twice (the frames it released
    * inside the call must not be ones the result still reads), release the
    * result, and return the RDDs the call left persisted.
    */
  private def leftBehind(name: String)(op: => DataFrame): Set[Int] = {
    val before = persisted
    val out = op
    val first = out.collect().map(_.toString).sorted.toSeq
    val second = out.collect().map(_.toString).sorted.toSeq
    assert(first.nonEmpty && first == second, s"$name: result unstable across reads")
    Loops.release(out)
    persisted -- before
  }

  test("release: every loop operator leaves no persisted blocks once its result is released") {
    val chain = (0 until 6).map(i => (s"r$i", s"r${i + 1}")).toDF("src", "dst")
    val seeds = Seq("r0").toDF("seed")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("idA", "idB")
    val cycle = ((1 until 6).map(i => (i.toLong, (i + 1).toLong)) :+ ((6L, 1L))).toDF("src", "dst")
    val judgments = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("winner", "loser")
    val leaks = Map(
      "seedDistance" -> leftBehind("seedDistance")(
        Graph.seedDistance(chain, "src", "dst", seeds, "seed", 3)),
      // zero hops: the result is built from the seed frame it releases
      "seedDistance(0)" -> leftBehind("seedDistance(0)")(
        Graph.seedDistance(chain, "src", "dst", seeds, "seed", 0)),
      "seedAttribution" -> leftBehind("seedAttribution")(
        Graph.seedAttribution(chain, "src", "dst", seeds, "seed", 3)),
      "labelPropagation" -> leftBehind("labelPropagation")(
        Graph.labelPropagation(chain, "src", "dst", rounds = 2)),
      "kCore" -> leftBehind("kCore")(Graph.kCore(cycle, "src", "dst", k = 2L)),
      "connectedComponents" -> leftBehind("connectedComponents")(
        Dedup.connectedComponents(pairs)),
      "connectedComponentsStar" -> leftBehind("connectedComponentsStar")(
        Dedup.connectedComponentsStar(pairs)),
      "bradleyTerry" -> leftBehind("bradleyTerry")(
        Curation.bradleyTerry(judgments, "winner", "loser", iters = 2))
    ).filter(_._2.nonEmpty)
    assert(leaks.isEmpty, s"persisted RDDs left behind after releasing the result: $leaks")
  }

  test("materialize: the probe row is computed over the checkpointed frame") {
    import org.apache.spark.sql.functions._
    val (cp, row) = Loops.materialize((1L to 10L).toDF("x"))
    assert(row.getLong(0) == 10L)
    val (none, empty) = Loops.materialize(cp.where($"x" > 100L), count(lit(1)), max($"x"))
    assert(empty.getLong(0) == 0L && empty.isNullAt(1))
    Loops.release(none, cp)
  }

  test("guard: only Loops checkpoints or releases loop frames in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found — run from the repository root")
    val owner = root.resolve("graft/ops/Loops.scala")
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") ||
            line.contains("unpersistLocalCheckpoint(") => (p, i + 1)
        }
      }.toList
    assert(hits.exists(_._1 == owner), "the scan must see Loops' own checkpoint call")
    val outside = hits.filterNot(_._1 == owner).map { case (p, n) => s"$p:$n" }
    assert(outside.isEmpty,
      s"checkpoint/release outside graft.ops.Loops — route it through Loops: $outside")
  }
}
