package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank over an explicit edge list.
  *
  * All arithmetic is 64-bit integer with floor division (`div`) at a fixed
  * 1e12 scale, so ranks are BIT-IDENTICAL across engines, retries, and
  * partitionings — no float summation order anywhere. Damping is 85/100;
  * dangling mass (nodes with no out-edges) is redistributed uniformly each
  * round, which keeps total mass conserved up to per-node floor remainders.
  *
  * Plan shape per round: one edge-keyed join to ship ranks to destinations
  * (the only fact-scale shuffle), a groupBy(dst) with map-side partial sums,
  * and a 1-row dangling-mass aggregate whose scalar folds into the next
  * round's expression driver-side (like the vertex count — a bounded
  * build value, not a data collect).
  * Rounds are synchronous and the iteration count is fixed by the caller —
  * the classic bounded-round formulation (Page et al. 1999; the
  * Spark-idiomatic loop mirrors GraphX's staticPageRank contract without
  * the RDD API).
  *
  * Cache lifecycle ([[graft.engine.Lineage]]): each round's ranks are
  * pinned, the previous round released — lineage stays one round deep, so
  * the plan does not grow with `iters` and a 100 TB run is `iters` bounded
  * passes. The returned frame is the final (vertex-count × 16 bytes) rank
  * set, still cached: the session cache releases it (`clearCache`, or its
  * LRU).
  *
  * The uniform, weighted and TrustRank variants share one round loop
  * ([[iterate]]) and differ only in their SQL expression strings, which
  * are passed through verbatim: the uniform formula's floor-division ORDER
  * (`(Scale·15 div 100) div n`) is hash-pinned by d21's driver oracle.
  */
object PageRank {

  /** 1e12 — rank mass is tracked in trillionths. */
  val Scale: Long = 1000000000000L

  /** @param nodes one column `v` (long id), the full vertex set (dangling
    *              vertices included)
    * @param edges columns `src`, `dst` (long ids), directed, duplicates
    *              allowed (parallel edges weight the transition)
    * @param iters number of synchronous rounds (fixed, no convergence test —
    *              deterministic plans beat adaptive stopping for parity)
    * @return (v, r) with r the fixed-point rank at [[Scale]]
    */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    iterate(nodes, _.count(), edges, Seq("src", "dst"), count(lit(1)).as("deg"),
      n => s"$Scale div ${n}L AS r",
      "r div deg AS share",
      (n, dang) => s"(($Scale * 15) div 100) div ${n}L + " +
        s"(85 * (coalesce(contrib, 0) + ${dang}L div ${n}L)) div 100 AS r",
      iters)

  /** Weighted PageRank: [[run]] with per-edge transition mass — each
    * vertex ships `(r · w_e) div W(v)` along edge e, W(v) = Σ w over its
    * out-edges, instead of the uniform `r div deg`. Same exact 64-bit
    * fixed-point discipline, damping, dangling handling, plan shape, and
    * cache lifecycle as [[run]]. Integer weights only; ANSI mode makes any
    * `r·w` overflow THROW loudly rather than wrap (size weights so
    * max r · max w ≪ 2^63 — rank mass is bounded by [[Scale]], so w up to
    * ~10^6 is safe).
    *
    * @param edges columns `src`, `dst`, `w` (positive integer weight;
    *              parallel (src, dst) rows pre-aggregate upstream)
    */
  def runWeighted(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    iterate(nodes, _.count(),
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w")),
      Seq("src", "dst", "w"), sum(col("w")).as("sumw"),
      n => s"$Scale div ${n}L AS r",
      "(r * w) div sumw AS share",
      (n, dang) => s"(($Scale * 15) div 100) div ${n}L + " +
        s"(85 * (coalesce(contrib, 0) + ${dang}L div ${n}L)) div 100 AS r",
      iters)

  /** TrustRank / personalized PageRank (Gyöngyi, Garcia-Molina &
    * Pedersen, VLDB 2004 — public algorithm): [[run]]'s power iteration
    * with the TELEPORT restricted to a trusted seed set — the web-spam
    * demotion pass of corpus curation (trust flows OUT of the whitelist
    * along links; pages unreachable from any seed hold no teleport mass
    * and starve). Same exact 64-bit fixed-point discipline as [[run]]:
    *
    *  - t(v) = Scale div |seeds| for seeds, 0 otherwise; r₀ = t;
    *  - r' (v) = (15·t(v)) div 100
    *             + (85·(contrib(v) + seed(v)·(dang div |seeds|))) div 100
    *    — dangling mass teleports to the SEEDS, the personalized twin of
    *    [[run]]'s uniform redistribution.
    *
    * Same per-round cost profile and cache lifecycle as [[run]]; seeds
    * outside `nodes` are ignored.
    */
  def trustRank(
      nodes: DataFrame, edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val flagged = nodes
      .join(seeds.select(col("v")).distinct().withColumn("__s", lit(1L)),
        Seq("v"), "left")
      .select(col("v"), coalesce(col("__s"), lit(0L)).as("s"))
    def seedCount(vs: DataFrame): Long = {
      val k = vs.filter(col("s") === 1L).count()
      require(k > 0L, "trustRank needs at least one seed inside `nodes`")
      k
    }
    iterate(flagged, seedCount, edges, Seq("src", "dst"), count(lit(1)).as("deg"),
      k => s"s * ($Scale div ${k}L) AS r",
      "r div deg AS share",
      (k, dang) => s"(15 * (s * ($Scale div ${k}L))) div 100 + " +
        s"(85 * (coalesce(contrib, 0) + s * (${dang}L div ${k}L))) div 100 AS r",
      iters)
  }

  /** The one round loop behind every variant.
    *
    * @param vertices `v` plus any columns carried through every round
    *                 (TrustRank's seed flag `s`)
    * @param mass     the teleport denominator (all vertices, or the seeds);
    *                 its action also materializes the vertex cache
    * @param edgeCols the edge columns the `share` expression reads
    * @param degree   the out-degree aggregate attached to every edge, named
    *                 as the `share` expression reads it
    * @param initial  round-0 rank expression, given the mass
    * @param share    per-edge rank share expression
    * @param update   next-rank expression, given the mass and the previous
    *                 round's dangling mass
    */
  private def iterate(
      vertices: DataFrame, mass: DataFrame => Long,
      edges: DataFrame, edgeCols: Seq[String], degree: Column,
      initial: Long => String, share: String, update: (Long, Long) => String,
      iters: Int): DataFrame = Lineage.scope { s =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val carried = vertices.columns.toSeq.filter(_ != "v")
    // Inputs are re-read every round — persist both, or an expensive
    // upstream (e.g. the Jaccard pair self-join) recomputes once per round.
    val e = s.pinLazy(edges)
    // Vertex count once, eagerly: a literal in every round's expression
    // beats re-running even a 1-row aggregate subplan per round.
    val (vs, n) = s.pinBy(vertices)(mass)
    val deg = s.pinLazy(e.frame.groupBy("src").agg(degree))
    // Degree is attached to the edge list ONCE, outside the loop — the
    // rounds previously joined `deg` per round, an edge-scale shuffle
    // join × iters that this single pinned frame replaces. The join
    // output is hash-partitioned by src and the cache RETAINS that
    // partitioning (InMemoryTableScan reports it), so at shuffle-join
    // scale each round's e⋈r probe re-shuffles only the vertex-scale
    // rank frame, never the edges. Its count also materializes `e` and
    // `deg`; the rounds read its view, since the un-truncated text embeds
    // the whole upstream edge pipeline per round (the catalog's d21 plan
    // carried 4186 nested scans before truncation).
    val eDeg = s.pin(e.frame.join(deg.frame, "src")
      .select((edgeCols ++ deg.frame.columns.filter(_ != "src")).map(col): _*)).view
    // the dangling probe reads deg's view so the per-round agg plan
    // doesn't re-embed the caller's edge pipeline via deg's lineage
    val degLeaf = deg.view

    // Dangling mass: ranks of vertices with no out-edges. A 1-row
    // aggregate pulled DRIVER-SIDE (same bounded contract as the vertex
    // count) and folded into the next round's expression as a literal.
    // Two plan economies vs earlier formulations:
    //  - an earlier version shipped it back as crossJoin(broadcast(agg)) —
    //    semantically identical, but the per-round BroadcastExchange +
    //    nested-loop stage cost ~6s/round at local[32];
    //  - the anti-join aggregate doubles as the CACHE MATERIALIZATION of
    //    its argument (it consumes every partition), so each round runs
    //    exactly ONE job — round t's action computes round t's ranks AND
    //    the dangling scalar round t+1 needs, instead of a count() job
    //    followed by a separate dangling job re-scanning the cache.
    def danglingOf(ranks: DataFrame): Long =
      ranks.join(degLeaf, ranks("v") === degLeaf("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
        .head().getLong(0)

    val (r0, dang0) = s.pinBy(
      vs.view.selectExpr(("v" +: carried) :+ initial(n): _*))(danglingOf)
    val ranks = s.fixpoint(r0, dang0, iters) { (_, r, dang) =>
      // Each vertex ships its share along every out-edge; sum at the dst.
      val contrib = eDeg.join(r, col("src") === col("v"))
        .selectExpr("dst", share)
        .groupBy("dst").agg(sum(col("share")).as("contrib"))
      vs.view
        .join(contrib, col("v") === col("dst"), "left")
        .selectExpr(("v" +: carried) :+ update(n, dang): _*)
    }(danglingOf)((_, _) => false)
    // the final round's view stays cached (multi-reference callers don't
    // re-nest the round chain)
    s.keep(ranks.state).view.select(col("v"), col("r"))
  }
}
