package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round k-core peeling over an explicit undirected edge list.
  *
  * The k-core is the maximal subgraph in which every node has degree ≥ k —
  * the standard "dense kernel" extractor for near-duplicate graphs: nodes
  * surviving the 2-core are documents entangled in duplication CLUSTERS
  * (template families, mirror farms), as opposed to isolated pairs, and
  * core membership is a cheap prioritization signal before running the
  * heavier component/PageRank stages.
  *
  * Semantics (round i, survivor set s_{i-1}, s_0 = all endpoint nodes):
  * deg_i(v) = degree of v in the subgraph INDUCED by s_{i-1};
  * s_i = { v ∈ s_{i-1} : deg_i(v) ≥ k }. After `rounds` rounds the result
  * is (id, core_deg) for every v ∈ s_rounds, where core_deg = deg_rounds —
  * the degree that qualified the node in the final peel. This truncated
  * iteration equals the true k-core exactly when some round removes
  * nothing (the fixpoint); `KCoreSpec` pins that convergence on the test
  * graph, and callers at scale pick `rounds` the way they pick PageRank
  * iterations. Peeling is monotone — survivor sets only shrink — so a
  * too-small `rounds` over-approximates the core, never corrupts it.
  *
  * Plan shape per round: one degree aggregate (map-side partial count on
  * the edge stream) and two semi-joins re-inducing the edge list on the
  * survivor set — all equi-joins on node ids; nothing is ever all-pairs
  * and no step is single-partition. The edge frame SHRINKS monotonically,
  * so round cost decays; at 100 TB each round is a bounded number of
  * hash-partitioned passes over the current (not original) edge set.
  *
  * Cache lifecycle ([[graft.engine.Lineage]]): the re-induced edge list is
  * pinned each round and the previous round's released, so lineage stays
  * one round deep and the plan does not grow with `rounds`.
  *
  * Input contract: `edges` holds each undirected edge ONCE as (src, dst)
  * with src ≠ dst and no duplicate pairs (the d4 canonical id_a < id_b
  * stream satisfies this); ids are integral. The reference engine has no
  * graph surface (`src/core.py` stops at relational ops) — this extends
  * the dedup family the same way PageRank/Triangles do.
  */
object KCore {

  /** One survivor re-induction: both endpoints must survive — two hash
    * SEMI-joins on node ids, never a nested loop (KCoreSpec pins this
    * plan shape here directly, since peel's returned plan is a truncated
    * cached leaf that no longer shows the round internals). */
  private[graft] def induce(live: DataFrame, survivors: DataFrame): DataFrame =
    live.join(survivors, Seq("a"), "left_semi")
      .join(survivors.select(col("a").as("b")), Seq("b"), "left_semi")

  /** Peel for `rounds` rounds at threshold `k`; returns (id, core_deg). */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = Lineage.scope { s =>
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    def degrees(live: DataFrame): DataFrame =
      live.groupBy(col("a")).agg(count(lit(1)).as("core_deg"))

    // Symmetrize once: each edge contributes to both endpoints' degrees.
    val live0 = s.pin(edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b"))))
    // Each peel references `live` THREE times (degree agg + both
    // semi-joins), so it reads the truncated view — d31's un-truncated plan
    // text carried 2376 nested scans. The last round only needs degrees,
    // not re-induction.
    val live = s.rounds(live0, rounds - 1) { (_, cur) =>
      induce(cur, degrees(cur).filter(col("core_deg") >= k).select(col("a")))
    }
    // The final round's degree frame derives from the still-cached `live`;
    // result cardinality is |core| — tiny relative to the edge stream.
    degrees(s.keep(live).view).filter(col("core_deg") >= k)
      .select(col("a").as("id"), col("core_deg"))
  }
}
