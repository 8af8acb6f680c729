package graft

import graft.operators.PageRank
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point PageRank pins: mass conservation up to floor remainders,
  * symmetry (isomorphic vertices get identical ranks), hub dominance, and
  * the all-dangling degenerate case (uniform ranks, exactly stable).
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(
      nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int = 5): Map[Long, Long] = {
    val out = PageRank.run(nodes.toDF("v"), edges.toDF("src", "dst"), iters)
    try out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.catalog.clearCache()
  }

  test("no edges: uniform ranks, stable across rounds") {
    val r = ranks(Seq(1L, 2L, 3L, 4L), Seq.empty)
    assert(r.values.toSet.size == 1)
    assert(r == ranks(Seq(1L, 2L, 3L, 4L), Seq.empty, iters = 1))
  }

  test("mass is conserved up to per-node floor remainders") {
    val n = 4
    val r = ranks(Seq(1L, 2L, 3L, 4L), Seq(1L -> 2L, 2L -> 3L, 3L -> 1L))
    val total = r.values.sum
    // Each of the 5 rounds loses < 1 unit per node per floor division
    // (three divisions per node per round) — tiny against 1e12.
    assert(total <= PageRank.Scale)
    assert(total > PageRank.Scale - 5L * n * 3)
  }

  test("symmetric vertices rank identically; the hub ranks highest") {
    // Star: 1..4 all point at 5; 5 is dangling.
    val r = ranks(Seq(1L, 2L, 3L, 4L, 5L), Seq(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 5L))
    assert(Seq(r(1L), r(2L), r(3L), r(4L)).toSet.size == 1)
    assert(r(5L) > r(1L))
  }

  test("deterministic across repartitionings (integer arithmetic, no float order)") {
    val nodes = (1L to 20L).toDF("v")
    val edges = (1L to 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val a = PageRank.run(nodes, edges, 3)
    val b = PageRank.run(nodes.repartition(7), edges.repartition(5), 3)
    val av = a.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val bv = b.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.catalog.clearCache()
    assert(av == bv)
  }

  private def trust(
      nodes: Seq[Long], edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int = 3): Map[Long, Long] = {
    val out = PageRank.trustRank(
      nodes.toDF("v"), edges.toDF("src", "dst"), seeds.toDF("v"), iters)
    try out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.catalog.clearCache()
  }

  test("trustRank: no edges — seeds hold all mass, non-seeds hold none") {
    val r = trust(Seq(1L, 2L, 3L, 4L), Seq.empty, Seq(1L, 3L))
    assert(r(2L) == 0L && r(4L) == 0L)
    assert(r(1L) == r(3L) && r(1L) > 0L)
  }

  test("trustRank: hand-traced one round on a 2-node chain") {
    // seed 1 → 2. t(1) = Scale, t(2) = 0. r0 = (Scale, 0). Dangling = r(2) = 0.
    // round: contrib(2) = Scale div 1 = Scale;
    //   r(1) = 15·Scale div 100 + 85·(0 + 0) div 100
    //   r(2) = 0 + 85·Scale div 100
    val S = PageRank.Scale
    val r = trust(Seq(1L, 2L), Seq(1L -> 2L), Seq(1L), iters = 1)
    assert(r(1L) == 15L * S / 100L)
    assert(r(2L) == 85L * S / 100L)
  }

  test("trustRank: trust starves nodes unreachable from the seed set") {
    // 1→2→3 trusted chain; spam island 10↔11 with no path from seed 1
    val r = trust(Seq(1L, 2L, 3L, 10L, 11L),
      Seq(1L -> 2L, 2L -> 3L, 10L -> 11L, 11L -> 10L), Seq(1L))
    assert(r(2L) > 0L && r(3L) > 0L)
    assert(r(10L) == 0L && r(11L) == 0L)
  }

  test("trustRank: dangling mass teleports back to the seeds only") {
    // 1 (seed) → 2, 2 dangling: round 2's dangling share must land on 1.
    val r1 = trust(Seq(1L, 2L), Seq(1L -> 2L), Seq(1L), iters = 2)
    // r1(1) after round 2 = 15%·t + 85%·(dang div 1) where dang = r(2) of round 1
    val S = PageRank.Scale
    val dangAfter1 = 85L * S / 100L
    assert(r1(1L) == 15L * S / 100L + 85L * dangAfter1 / 100L)
  }

  test("trustRank: seeds outside the vertex set are ignored; empty seeds refuse") {
    val r = trust(Seq(1L, 2L), Seq(1L -> 2L), Seq(1L, 99L), iters = 1)
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L) == 15L * PageRank.Scale / 100L) // nSeeds counted as 1, not 2
    val err = intercept[IllegalArgumentException] {
      trust(Seq(1L, 2L), Seq(1L -> 2L), Seq(99L), iters = 1)
    }
    assert(err.getMessage.contains("seed"))
  }

  test("runWeighted: all-equal weights reproduce the unweighted ranks exactly") {
    val nodes = (1L to 12L).toDF("v")
    val es = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L, 5L -> 3L,
      6L -> 1L, 7L -> 3L)
    val un = PageRank.run(nodes, es.toDF("src", "dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eq = PageRank.runWeighted(nodes,
        es.map { case (a, b) => (a, b, 7L) }.toDF("src", "dst", "w"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(un == eq, "uniform weights must be a no-op vs the unweighted loop")
  }

  test("runWeighted: mass follows the heavy edge") {
    // 1 splits to {2, 3} with weights 9:1 — after one round, r(2) gets
    // 9x r(3)'s share (floor division exact: (r*9) div 10 vs (r*1) div 10)
    val nodes = Seq(1L, 2L, 3L).toDF("v")
    val es = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val got = PageRank.runWeighted(nodes, es, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r0 = PageRank.Scale / 3L
    val base = (PageRank.Scale * 15L / 100L) / 3L
    // dangling at round 0: r(2)+r(3) = 2*r0 (no out-edges)
    val dang = 2L * r0
    assert(got(2L) == base + 85L * (r0 * 9L / 10L + dang / 3L) / 100L)
    assert(got(3L) == base + 85L * (r0 * 1L / 10L + dang / 3L) / 100L)
  }
}