package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label connected components over an undirected edge list — the
  * cluster-assignment stage a dedup pipeline runs AFTER pair detection
  * (pairs → components → one keeper per component). An operator the
  * reference never needed (its dedup is per-row `unique`), but any
  * near-dup pipeline at scale does.
  *
  * Plan shape per round: one neighbor-min aggregation shuffle + one
  * vertex-keyed join — label propagation, driver-coordinated. Labels are
  * monotone non-increasing, so convergence is detected by comparing the
  * label-sum aggregate (decimal — an id-sum overflows a long at billions
  * of vertices) between rounds: strictly smaller iff something changed.
  * Rounds needed ≤ graph diameter; near-dup clusters are clique-like
  * (diameter 1-2); a graph whose diameter exceeds `maxIters` is refused.
  *
  * Cache lifecycle ([[graft.engine.Lineage]]): each round's labels are
  * pinned, materialized by the convergence aggregate, and the PREVIOUS
  * round is released — lineage would otherwise deepen by two joins per
  * round and recompute the whole history every action. The returned frame
  * is the final (vertex-count × 16 bytes) label set, still cached: the
  * session cache releases it (`clearCache`, or its LRU).
  */
object ConnectedComponents {

  /** Weighted union-find with path compression over collected (id, edge)
    * arrays, labels = min id per component — the [[Scc.tarjanMinLabels]]
    * doctrine applied to the undirected case: the serial endgame for
    * graphs that fit the documented driver budget. Same unique labeling
    * as the distributed rounds, so the two paths are bit-identical. */
  private[graft] def unionFindMinLabels(
      ids: Array[Long], edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val n = ids.length
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    // FIRST occurrence wins the slot: the caller's vertex frame is not
    // required to be distinct (the distributed rounds tolerate duplicate
    // rows — both copies get the same label), so duplicates must SHARE a
    // union-find slot rather than shadow it (a put-always here mislabeled
    // the shadowed copy as its own singleton; found by self-review)
    while (i < n) { idx.putIfAbsent(ids(i), i); i += 1 }
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Int](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ai = idx.get(a); val bi = idx.get(b)
      if (ai != null && bi != null) { // induced on the vertex set
        val ra = find(ai); val rb = find(bi)
        if (ra != rb) {
          if (rank(ra) < rank(rb)) parent(ra) = rb
          else if (rank(ra) > rank(rb)) parent(rb) = ra
          else { parent(rb) = ra; rank(ra) += 1 }
        }
      }
    }
    val minId = new java.util.HashMap[Integer, java.lang.Long](n * 2)
    i = 0
    while (i < n) {
      val slot = find(idx.get(ids(i))) // canonical slot, duplicate-safe
      val cur = minId.get(slot)
      if (cur == null || ids(i) < cur.longValue) minId.put(slot, ids(i))
      i += 1
    }
    // one output row per INPUT row (duplicates keep their multiplicity,
    // matching the distributed path's per-row labeling)
    Array.tabulate(n)(k => (ids(k), minId.get(find(idx.get(ids(k)))).longValue))
  }

  /** @param localFinishMaxRows the serial-endgame cutover (the
    *        [[Scc.components]] doctrine): when vertices + directed edge
    *        rows fit under this count-scale driver budget, the graph is
    *        collected once and labeled by weighted union-find instead of
    *        paying per-round distributed actions — same min-id labels,
    *        bit-identical output. 0 forces the all-distributed path
    *        (the parity spec uses this). At 100 TB the entry check fails
    *        and the label-propagation rounds run unchanged. */
  def minLabel(
      vertices: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 20,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    // Pinned for the loop: every round's neighbor-min join reads the
    // edge set, and without the cache each labelSum action would re-run
    // the caller's whole edge-producing subplan (e.g. d13's pair
    // detection) twice per round via the two union branches. Pinned
    // ALREADY HASH-PARTITIONED on the probe key: the cache retains the
    // repartition's output partitioning (InMemoryTableScan reports it),
    // so at shuffle-join scale each round's neighbor-min join re-shuffles
    // only the vertex-scale label frame — the edge set, the big side,
    // shuffles exactly once for the whole iteration instead of per round.
    // The rounds read its truncated view, which keeps the caller's
    // edge-producing subplan out of every round's plan text.
    val (undirected, edgeRows) = s.pinBy(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .repartition(col("src")))(_.count())
    val undirectedLeaf = undirected.view

    // NULL on an empty frame (sum over zero rows) — handled below.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)

    // ONE materializing action carries both the convergence seed and the
    // vertex count the endgame cutover needs
    val (labels0, first) = s.pinBy(vertices
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("label")))(
      _.agg(sum(col("label").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n")).head())
    val firstSum = first.getDecimal(0)
    val vertexRows = first.getLong(1)
    if (firstSum == null) s.keep(labels0).frame // no vertices: trivially converged
    else if (vertexRows + edgeRows <= localFinishMaxRows) {
      // --- SERIAL ENDGAME (the Scc.components doctrine): the whole graph
      // fits the documented driver budget — one collect + union-find
      // replaces diameter-many fixed-overhead distributed rounds.
      val ids = labels0.frame.select(col("id")).collect().map(_.getLong(0))
      val es = undirectedLeaf.select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      Console.err.println(
        s"[cc] local-endgame vertices=${ids.length} directedEdges=${es.length}")
      val labeled = unionFindMinLabels(ids, es)
      undirected.release()
      labels0.release()
      s.keep(s.pin(vertices.sparkSession.createDataFrame(labeled.toSeq)
        .toDF("id", "label")
        .select(col("id").cast("long"), col("label").cast("long")))).view
    } else {
      // Each round references `labels` twice, so it reads the previous
      // round's truncated view or the logical plan grows geometrically with
      // the iteration count. The label sum is the round's one action.
      val labels = s.fixpoint(labels0, firstSum, maxIters) { (_, labels, _) =>
        val nbrMin = undirectedLeaf.join(labels, col("src") === col("id"))
          .groupBy(col("dst"))
          .agg(min(col("label")).as("nbr_label"))
        labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
          .select(labels("id"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      }(labelSum)(_.compareTo(_) == 0)
      if (!labels.converged)
        throw new IllegalStateException(
          s"connected components did not converge in $maxIters rounds")
      // truncated view over the still-persisted final labels, so a caller
      // referencing the result more than once doesn't re-nest the rounds
      s.keep(labels.state).view
    }
  }
}
