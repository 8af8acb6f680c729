package graft

import graft.operators.{ConnectedComponents, Mis, Scc, Selection, TreeDepth}
import graft.pipeline.{Pipeline, PipelineContext}
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** The round-loop operators' refusal paths release every cache they
  * pinned: each case records the session's persistent RDDs, runs an input
  * the operator must refuse, and requires that no new persistent RDD
  * outlives the exception. The graph sizes keep each case to a few rounds;
  * `localFinishMaxRows = 0` keeps the distributed loops in play where the
  * operator has a serial endgame. The migration's one cache, the
  * resolutions upload mapping, is held to the same rule after a run and
  * after an upload that fails. */
class LoopLeakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `refused`, which must throw, and returns the message; fails the
    * test if the refusal left a persistent RDD behind. */
  private def refusesWithoutLeak(refused: => Any): String = {
    val before = persistentIds
    val err = intercept[Exception](refused)
    val after = persistentIds
    assert(after.size == before.size && (after -- before).isEmpty,
      s"refusal leaked ${(after -- before).size} persistent RDD(s): " +
        s"${before.size} before, ${after.size} after (${err.getMessage})")
    err.getMessage
  }

  test("TreeDepth.depths on cyclic input") {
    val edges = Seq(1L -> 2L, 2L -> 1L, 3L -> 0L).toDF("v", "parent")
    val msg = refusesWithoutLeak(TreeDepth.depths(edges, root = 0L, maxRounds = 3))
    assert(msg.contains("cyclic"))
  }

  test("TreeDepth.depths on orphan input") {
    val edges = Seq(1L -> 5L, 2L -> 0L).toDF("v", "parent")
    val msg = refusesWithoutLeak(TreeDepth.depths(edges, root = 0L))
    assert(msg.contains("dropped"))
  }

  test("Scc.components colour non-convergence") {
    val cycle = (1L to 10L).map(v => v -> (v % 10L + 1L))
    val msg = refusesWithoutLeak(Scc.components(
      (1L to 10L).toDF("id"), "id", cycle.toDF("src", "dst"), "src", "dst",
      maxPropRounds = 2, localFinishMaxRows = 0L))
    assert(msg.contains("maxPropRounds"))
  }

  test("Scc.components outer-round guard") {
    // the SccSpec chain of 2-cycles: one cycle extracted per outer round
    val es = Seq(2L -> 3L, 3L -> 2L, 2L -> 6L, 6L -> 7L, 7L -> 6L, 6L -> 10L,
      10L -> 11L, 11L -> 10L)
    val msg = refusesWithoutLeak(Scc.components(
      Seq(2L, 3L, 6L, 7L, 10L, 11L).toDF("id"), "id", es.toDF("src", "dst"),
      "src", "dst", maxOuterRounds = 2, localFinishMaxRows = 0L))
    assert(msg.contains("maxOuterRounds"))
  }

  test("Scc.topologicalLevels on a cycle") {
    val msg = refusesWithoutLeak(Scc.topologicalLevels(
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L).toDF("src", "dst"), "src", "dst", maxRounds = 4))
    assert(msg.contains("cycle"))
  }

  test("Mis round cap") {
    // a path laid out in increasing round-0 priority: only its head wins
    // round 0, so one round leaves most of the path live
    val byPriority = (1L to 20L).sortBy(id => ((id % 1000003L) * 2654435761L) % 1000000007L)
    val path = byPriority.zip(byPriority.tail)
    val msg = refusesWithoutLeak(Mis.maximalIndependentSet(
      byPriority.toDF("id"), "id", path.toDF("src", "dst"), "src", "dst",
      maxRounds = 1))
    assert(msg.contains("maxRounds"))
  }

  test("ConnectedComponents.minLabel non-convergence") {
    val chain = (1L until 6L).map(v => v -> (v + 1L))
    val msg = refusesWithoutLeak(ConnectedComponents.minLabel(
      (1L to 6L).toDF("id"), "id", chain.toDF("a", "b"), "a", "b",
      maxIters = 1, localFinishMaxRows = 0L))
    assert(msg.contains("did not converge"))
  }

  test("Selection.kthOfCount with a rank past the row count") {
    // the rank is checked after the first round has pinned its frame
    val msg = refusesWithoutLeak(Selection.kthOfCount(
      (1L to 20L).toDF("v"), "v", total => total + 1, buckets = 2, localLimit = 1L))
    assert(msg.contains("exceeds row count"))
  }

  /** `Main.registry`'s resolutions pipeline over the migration fixtures,
    * writing under `out`. */
  private def resolutions(out: String): Pipeline = {
    val in = GraftBridge.tempDir("graft-leak-in")
    MigrationFixtures.write(spark, in)
    Main.registry(in, out).find(_.name == "resolutions").get
  }

  test("resolutions pipeline releases its upload mapping after the sink") {
    val out = GraftBridge.tempDir("graft-leak-out")
    val pipe = resolutions(out)
    val before = persistentIds
    pipe.run(PipelineContext(spark))
    assert(persistentIds == before, s"${(persistentIds -- before).size} persistent RDD(s) left")
    assert(spark.read.parquet(s"$out/resolutions.parquet").count() == 2)
  }

  test("resolutions pipeline whose object-store put throws") {
    // a regular file where the local store's root directory goes: the
    // client's put cannot create the object's directory and throws
    val out = GraftBridge.tempDir("graft-leak-out")
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "_objects"), Array.emptyByteArray)
    val pipe = resolutions(out)
    val msg = refusesWithoutLeak(pipe.run(PipelineContext(spark)))
    assert(msg.contains("_objects"), msg)
  }
}
