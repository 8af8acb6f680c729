package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators._
import org.apache.spark.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the actions and Spark jobs each round-loop operator spends per
  * round. Each case runs the operator on two inputs whose round counts
  * are known and differ by a few rounds, and asserts the difference as
  * (actions, jobs): setup, result collection and endgame checks cancel
  * out, so the difference is the loop's own per-round cost. An action is
  * one query execution (`count`, `head`, `collect`, and the `.rdd` a
  * lineage truncation reads); the jobs also include the broadcast jobs
  * an action submits. `localFinishMaxRows = 0`
  * forces the distributed loop where the operator has a serial endgame.
  *
  * Expected: a one-round loop spends two actions (its materializing
  * action and its truncation) and one job per round; a loop that runs two
  * rounds per materializing action spends three actions (that action and
  * two truncations) and one job per two rounds. LabelPropagation spends a second job per round: its edge cache
  * is materialized by round one, so later rounds broadcast it. */
class LoopActionCountSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val actions = new AtomicInteger
  private val jobs = new AtomicInteger
  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }
  private val actionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.incrementAndGet()
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(actionListener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(actionListener)
  }

  /** (actions, jobs) started while `body` runs, result collection
    * included. Adaptive execution is off while counting: it submits each
    * shuffle stage as its own job and may skip or re-plan stages depending
    * on which finishes first, so its job count varies between runs of the
    * same plan. */
  private def countsOf(body: => Any): (Int, Int) = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      TestBridge.drain(spark.sparkContext)
      val (a0, j0) = (actions.get, jobs.get)
      body
      TestBridge.drain(spark.sparkContext)
      (actions.get - a0, jobs.get - j0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  private def collected(df: org.apache.spark.sql.DataFrame): Unit = { df.collect(); () }

  /** (actions, jobs) difference between a run of `small` and a run of
    * `large` loop rounds. */
  private def delta(small: Int, large: Int)(run: Int => Any): (Int, Int) = {
    val (a1, j1) = countsOf(run(small))
    val (a2, j2) = countsOf(run(large))
    Console.err.println(s"[action-count] $small -> $large rounds: " +
      s"actions $a1 -> $a2, jobs $j1 -> $j2")
    (a2 - a1, j2 - j1)
  }

  private def chain(n: Int): Seq[(Long, Long)] = (1L until n.toLong).map(v => v -> (v + 1L))
  private def cycle(n: Int): Seq[(Long, Long)] = (1L to n.toLong).map(v => v -> (v % n + 1L))
  private val graph = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 3L, 1L -> 5L)
  private def vertices(n: Int) = (1L to n.toLong).toDF("v")

  test("PageRank: uniform, weighted and TrustRank") {
    val e = graph.toDF("src", "dst")
    val we = graph.map { case (s, d) => (s, d, s + d) }.toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("v")
    val uniform = delta(2, 4)(i => collected(PageRank.run(vertices(5), e, i)))
    val weighted = delta(2, 4)(i => collected(PageRank.runWeighted(vertices(5), we, i)))
    val trust = delta(2, 4)(i => collected(PageRank.trustRank(vertices(5), e, seeds, i)))
    assert((uniform, weighted, trust) == ((4, 2), (4, 2), (4, 2)))
  }

  test("Hits") {
    val e = graph.toDF("src", "dst")
    assert(delta(2, 4)(r => collected(Hits.run(e, r))) == (4, 2))
  }

  test("ConnectedComponents.minLabel: one round per hop of a chain") {
    def run(n: Int) = collected(ConnectedComponents.minLabel(
      (1L to n.toLong).toDF("id"), "id", chain(n).toDF("a", "b"), "a", "b",
      localFinishMaxRows = 0L))
    assert(delta(4, 6)(run) == (4, 2))
  }

  test("LabelPropagation") {
    val e = graph.toDF("src", "dst")
    assert(delta(2, 4)(r => collected(LabelPropagation.run(vertices(5), e, r))) == (4, 4))
  }

  test("KCore") {
    val e = (chain(8) ++ Seq(1L -> 3L, 2L -> 4L, 5L -> 7L)).toDF("src", "dst")
    assert(delta(2, 4)(r => collected(KCore.peel(e, 2, r))) == (4, 2))
  }

  test("TreeDepth: one doubling round per factor of two in depth") {
    // a chain of depth 4 resolves in 2 doubling rounds, depth 16 in 4
    def run(rounds: Int) = {
      val n = 1 << rounds
      collected(TreeDepth.depths(
        (2L to n.toLong + 1L).map(v => (v, v - 1L)).toDF("v", "parent"), root = 1L))
    }
    assert(delta(2, 4)(run) == (4, 2))
  }

  test("Scc colour: two rounds per action") {
    // a cycle plus a chord from every vertex back to the pivot: colouring
    // needs one round per hop of the cycle, the sweep settles everything
    // in its first wave, so only the colour loop grows with the cycle
    def run(n: Int) = collected(Scc.components(
      (1L to n.toLong).toDF("id"), "id",
      (cycle(n) ++ (3L to n.toLong).map(_ -> 1L)).distinct.toDF("src", "dst"), "src", "dst",
      localFinishMaxRows = 0L))
    assert(delta(6, 10)(run) == (6, 2))
  }

  test("Scc.topologicalLevels: two rounds per action") {
    def run(n: Int) = collected(Scc.topologicalLevels(chain(n).toDF("src", "dst"), "src", "dst"))
    assert(delta(5, 9)(run) == (6, 2))
  }

  test("Bfs wave: two hops per action") {
    def run(n: Int) = collected(Bfs.hopDistances(chain(n).toDF("src", "dst"),
      Seq(1L).toDF("v"), maxHops = 64, localFinishMaxRows = 0L))
    assert(delta(6, 10)(run) == (6, 2))
  }

  test("RandomWalks: two steps per action") {
    val e = cycle(5).toDF("src", "dst")
    val seeds = Seq(1L, 3L).toDF("v")
    val deep = delta(4, 8)(l => collected(
      RandomWalks.deepWalks(e, seeds, l, localFinishMaxRows = 0L)))
    val biased = delta(4, 8)(l => collected(RandomWalks.node2vecWalks(e, seeds, l)))
    assert((deep, biased) == ((6, 2), (6, 2)))
  }

  test("Selection: one quickselect round per halving") {
    // two buckets halve the distinct candidates each round: 8 rows resolve
    // in 3 rounds, 32 in 5. A round spends two actions and two jobs, the
    // quantile probe that materializes its cache and the bucket count; it
    // reads its predecessor's cache directly, with no truncation.
    def run(n: Int) = Selection.kthOfCount((1L to n.toLong).toDF("v"), "v",
      total => (total + 1) / 2, buckets = 2, localLimit = 1L)
    assert(delta(8, 32)(run) == (4, 4))
  }
}
