package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan et al. 2007) — community
  * detection for the near-dup graph, the density-based complement to
  * [[ConnectedComponents]] (which merges ANY connectivity into one
  * component; LPA lets weakly-bridged dense regions keep distinct
  * communities).
  *
  * Deterministic variant: labels start as the vertex id; each round every
  * vertex adopts its neighbors' most frequent label with the tie broken
  * toward the SMALLEST label (count DESC, label ASC — the classic
  * random-tie variant is not reproducible across runs, which would break
  * the oracle gate and retry idempotence). Isolated vertices keep their
  * label. Rounds are synchronous and FIXED — the d21/d31 doctrine:
  * truncated deterministic iteration beats adaptive stopping for
  * cross-engine parity, and the oracle unrolls the identical rounds.
  *
  * Scale shape per round: one edge-keyed join ships labels to neighbors
  * (the only fact-scale shuffle), a (vertex, label)-keyed count with
  * map-side combine, a vertex-keyed window for the argmax (partitioned BY
  * VERTEX — bounded by its distinct neighbor labels, never global), and a
  * vertex-scale join-back. Iteration hygiene is [[graft.engine.Lineage]]'s:
  * edges persist once, each round's labels are pinned and the predecessor
  * released — lineage stays one round deep.
  */
object LabelPropagation {

  /** @param vertices one column `v` (long id) — the full vertex set
    * @param edges columns `src`, `dst` (long ids), ONE row per undirected
    *              pair; mirrored internally
    * @param rounds fixed synchronous rounds
    * @return (v, label) — vertices sharing a label form a community
    */
  def run(vertices: DataFrame, edges: DataFrame, rounds: Int): DataFrame = Lineage.scope { s =>
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = s.pinLazy(edges
      .select(col("src").cast("long").as("a"), col("dst").cast("long").as("b"))
      .unionAll(edges.select(col("dst").cast("long").as("a"), col("src").cast("long").as("b"))))
      .frame
    val lab0 = s.pin(
      vertices.select(col("v").cast("long").as("v"), col("v").cast("long").as("label")))
    val w = Window.partitionBy(col("v")).orderBy(col("c").desc, col("label"))
    // Each round references its predecessor TWICE (message join + keep-label
    // join-back), so it reads the predecessor's truncated view: un-truncated,
    // the LOGICAL plan doubles per round (measured on d45: the returned plan
    // text carried 1592 nested scans before truncation).
    val lab = s.rounds(lab0, rounds) { (_, prev) =>
      val best = e.join(prev.select(col("v").as("src_v"), col("label")),
          col("a") === col("src_v"))
        .groupBy(col("b").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v"), col("label").as("best_label"))
      prev.join(best, Seq("v"), "left")
        .select(col("v"), coalesce(col("best_label"), col("label")).as("label"))
    }
    // Returned labels stay persisted (same contract as PageRank's ranks),
    // but hand back the TRUNCATED view: the RDD leaf still reads the
    // cached blocks, and a caller that references the result more than
    // once (d45 joins it onto both edge endpoints) would otherwise nest
    // the whole round-chain text once per reference.
    s.keep(lab).view
  }
}
