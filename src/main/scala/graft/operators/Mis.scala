package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Maximal independent set by Luby's algorithm (Luby 1986 — the public
  * classic for distributed symmetry breaking): each round, every live
  * vertex draws a priority and enters the MIS iff it beats every live
  * neighbor; winners' neighbors are dominated and leave with them.
  * O(log n) rounds in expectation.
  *
  * The data-pipeline reading: an MIS over a CONFLICT graph is the
  * largest-practical batch of mutually-safe items — near-dup pairs you
  * may not keep together, migrations that can't run concurrently,
  * evaluation docs that must not share a cluster. (Greedy keeper
  * election (d33) picks one per component; MIS picks a maximal
  * non-adjacent SET across the whole graph.)
  *
  * Determinism: the per-round priority is the engine-portable modular
  * mix of (vertex, round) — Luby's fresh randomness each round, but
  * replayable, so the gate's oracle unrolls the SAME rounds and the
  * resulting set hashes across engines (the d56/d59/d61 pattern).
  * The win condition compares the LEXICOGRAPHIC pair (p, id), never p
  * alone: the mix reduces ids mod 1000003 before mixing and the round
  * term is shared by both endpoints, so two adjacent vertices with
  * congruent ids tie in EVERY round (structural by pigeonhole for
  * graphs past ~1e6 vertices, not rare) — without the id tiebreak such
  * a pair could survive all rounds and force the maxRounds refusal.
  * The id tiebreak is injective, so every round strictly shrinks the
  * live set wherever an edge remains.
  *
  * Scale shape per round: one edge-keyed join shipping live priorities
  * to neighbors + a map-side-combined min, a vertex-scale winner
  * filter, one more edge join to collect dominated neighbors, and two
  * vertex-scale anti-joins. Every round's frames are pinned and read
  * through their truncated views ([[graft.engine.Lineage]]); winners
  * accumulate as cached leaves until the result is built.
  */
object Mis {

  /** Round-r priority — REPLICATED in the d63 oracle; change both or
    * neither. */
  private def priority(id: Column, round: Int): Column =
    ((id % 1000003L) * 2654435761L + lit(round.toLong) * 65599L) % 1000000007L

  /** @param vertices one column `idCol` (long ids)
    * @param edges    (srcCol, dstCol) long ids, treated as UNDIRECTED
    *                 (symmetrized internally); self-loops ignored
    * @return (id, in_mis) for every vertex
    */
  def maximalIndependentSet(
      vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30): DataFrame = Lineage.scope { s =>
    require(maxRounds >= 1 && maxRounds <= 64,
      s"maxRounds must be in [1, 64], got $maxRounds")
    val e0 = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val ue = s.pin(e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()).view

    val (all, allRows) = s.pinBy(
      vertices.select(col(idCol).cast("long").as("id")).distinct())(_.count())
    var live = all
    var liveRows = allRows

    val winners = scala.collection.mutable.ArrayBuffer.empty[Lineage.Pinned]
    var round = 0
    while (liveRows > 0L && round < maxRounds) {
      val pr = live.view.select(col("id"), priority(col("id"), round).as("p"))
      // Lexicographic (p, id) key — struct ordering in Spark, ROW min in
      // the oracle. REPLICATED in the d63 oracle; change both or neither.
      val nbrMin = ue
        .join(pr.select(col("id").as("src"),
          struct(col("p").as("p"), col("id").as("id")).as("pk")), Seq("src"))
        .groupBy(col("dst")).agg(min(col("pk")).as("np"))
      val cand = s.pin(pr.join(nbrMin, pr("id") === nbrMin("dst"), "left")
        .filter(col("np").isNull ||
          struct(pr("p").as("p"), pr("id").as("id")) < col("np"))
        .select(pr("id")))
      winners += cand
      val dominated = ue.join(cand.view.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      val (next, nextRows) = s.pinBy(live.view
        .join(cand.view, Seq("id"), "left_anti")
        .join(dominated, Seq("id"), "left_anti"))(_.count())
      if (live ne all) live.release() // `all` feeds the final join
      live = next
      liveRows = nextRows
      round += 1
    }
    if (liveRows > 0L)
      throw new IllegalStateException(
        s"Luby MIS did not finish in $maxRounds rounds (raise maxRounds)")
    // the result stays persisted (the Bfs contract)
    if (winners.isEmpty) // no vertices at all
      s.keep(all).view.select(col("id"), lit(false).as("in_mis"))
    else {
      val mis = winners.map(_.view).reduce(_ unionAll _)
      s.keep(s.pin(all.view
        .join(mis.select(col("id"), lit(true).as("in_mis")), Seq("id"), "left")
        .select(col("id"), coalesce(col("in_mis"), lit(false)).as("in_mis")))).view
    }
  }
}
