package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round HITS (hubs & authorities, Kleinberg 1999) over an explicit
  * directed edge list.
  *
  * All arithmetic is EXACT 64-bit integer: h₀ = 1 for every vertex, then
  * each synchronous round computes a(v) = Σ_{(u,v)∈E} h(u) followed by
  * h(u) = Σ_{(u,v)∈E} a(v). No normalization — the classic L2 step is
  * IEEE-order-dependent and would break cross-engine parity, while the
  * UNNORMALIZED iterates are the same ranking (normalization is a positive
  * scalar per round). Magnitudes grow as (Δin·Δout)^rounds, so callers
  * bound rounds by their degree profile; the guard below refuses when a
  * round could overflow Long (checked against the measured max in/out
  * degree, conservatively: maxH ≤ (Δin·Δout)^rounds).
  *
  * Plan shape per round: two edge-keyed shuffle joins (ship h to dst,
  * ship a back to src) and two groupBys with map-side partial sums — at
  * 100 TB each round is two bounded passes over the persisted edge list,
  * exactly the PageRank cost profile. Rounds are synchronous with a fixed
  * count (deterministic plans beat adaptive stopping for parity).
  *
  * Cache lifecycle ([[graft.engine.Lineage]]): the edge list and vertex
  * set are pinned once; each round's (a, h) pair is pinned and the
  * previous round released — lineage stays one round deep, so the plan
  * does not grow with `rounds`. The final round stays cached until the
  * session cache releases it.
  *
  * Reference scope: the reference engine has no graph operators — this is
  * part of the training-data-pipeline extension surface (link-structure
  * quality signals for web corpora, bipartite co-occurrence ranking).
  */
object Hits {

  /** @param edges  columns `src`, `dst` (long ids), directed; duplicates
    *               allowed (parallel edges weight both update directions)
    * @param rounds number of synchronous (authority, hub) update rounds
    * @return (v, hub, authority) for every vertex appearing in `edges`
    */
  def run(edges: DataFrame, rounds: Int): DataFrame = Lineage.scope { s =>
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = s.pinLazy(edges.select(col("src").cast("long"), col("dst").cast("long")))

    // Overflow guard: one pass over the persisted edges yields both max
    // degrees; (Δin·Δout)^rounds bounds every iterate (each a-step
    // multiplies by ≤ Δin, each h-step by ≤ Δout).
    val degs = e.frame.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(max(col("d")).as("dout"))
      .crossJoin(e.frame.groupBy("dst").agg(count(lit(1)).as("d"))
        .agg(max(col("d")).as("din")))
      .head()
    val (dout, din) = (degs.getLong(0), degs.getLong(1))
    val boundBits = rounds * (64 - java.lang.Long.numberOfLeadingZeros(din * dout))
    require(boundBits < 62,
      s"HITS with $rounds rounds over max in-degree $din × out-degree $dout " +
        s"can exceed Long range (~2^$boundBits); reduce rounds or pre-thin the graph.")

    val eLeaf = e.view // materialized by the degree pass
    val vs = s.pin(e.frame.select(col("src").as("v"))
      .union(e.frame.select(col("dst").as("v"))).distinct()).view

    val h0 = s.pin(vs.select(col("v"), lit(1L).as("hub"), lit(0L).as("authority")))
    val fin = s.rounds(h0, rounds) { (round, cur) =>
      // a(v) = Σ h over in-edges — vertex-scale aggregate, pinned LAZILY
      // for this round (it has two consumers below; the round's single
      // count fills it on first use, the second consumer reads the cache).
      val aAgg = round.pinLazy(eLeaf.join(cur.select(col("v"), col("hub")), col("src") === col("v"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("a"))).frame
      // h(u) = Σ a over out-edges, against the SAME round's authorities.
      val hAgg = eLeaf.join(aAgg.withColumnRenamed("dst", "av"), col("dst") === col("av"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
      vs
        .join(aAgg, vs("v") === aAgg("dst"), "left")
        .join(hAgg, vs("v") === hAgg("src"), "left")
        .select(vs("v"), coalesce(col("h"), lit(0L)).as("hub"),
          coalesce(col("a"), lit(0L)).as("authority"))
    }
    s.keep(fin).view
  }
}
