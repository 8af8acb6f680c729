package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Breadth-first hop distances from a source set — the
  * reachability/distance primitive the graph family lacked: "how far is
  * every document from this seed set" powers contamination blast-radius
  * checks (how much of the corpus is within k dedup-links of a benchmark
  * doc) and link-graph crawl-frontier audits. Complements
  * [[ConnectedComponents]] (reachable at all) with HOW FAR, and
  * [[PageRank]]/[[Hits]] (stationary importance) with shortest-path
  * structure.
  *
  * Synchronous frontier expansion: round h ships the round-(h-1) frontier
  * over the edge relation (one edge-keyed shuffle join), dedups the
  * neighbor set, and anti-joins the already-settled distance table so each
  * vertex is labeled exactly once, at its true hop distance (BFS
  * invariant: first discovery is shortest). Rounds are capped — the
  * d21/d31 doctrine: a fixed cap keeps the oracle an unrollable `d <
  * maxHops` recursion — and exit early when a frontier comes back empty.
  *
  * Scale shape per round: ONE fact-scale shuffle (frontier⋈edges keyed on
  * src), a map-side-combined distinct, and a settled-set anti-join that is
  * vertex-scale, not edge-scale. One action per round (the frontier
  * materialize/early-exit count). Iteration hygiene is
  * [[graft.engine.Lineage]]'s: every level is pinned and read through its
  * truncated view, so the plan stays one round deep; the settled table is
  * a linear union of ≤ maxHops+1 cached leaves, never a self-referencing
  * chain.
  */
object Bfs {

  /** @param edges   directed (src, dst) long ids; mirror before calling
    *                for an undirected walk
    * @param sources one column `v` (long ids) — distance-0 seed set
    * @param maxHops fixed round cap (≤ 64 — beyond that the caller wants
    *                [[ConnectedComponents]], not distances)
    * @return (v, dist) for every vertex within maxHops of a source;
    *         unreachable vertices are absent
    */
  def hopDistances(edges: DataFrame, sources: DataFrame, maxHops: Int,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops must be in [0, 64], got $maxHops (for unbounded reachability use ConnectedComponents)")
    val (eP, eRows) = s.pinBy(
      edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst")))(_.count())
    val e = eP.view
    val (seedsP, frontierRows) = s.pinBy(
      sources.select(col("v").cast("long").as("v")).distinct())(_.count())
    if (eRows + frontierRows <= localFinishMaxRows) {
      // --- SERIAL ENDGAME (the Scc.components doctrine): the edge set
      // and seed set fit the documented driver budget — one collect +
      // queue BFS replaces up to maxHops fixed-overhead rounds. First
      // discovery is shortest, so distances are unique → bit-identical
      // to the distributed frontier expansion. 0 forces distributed.
      val es = e.select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val seeds = seedsP.view.select(col("v")).collect().map(_.getLong(0))
      Console.err.println(
        s"[bfs] local-endgame seeds=${seeds.length} edges=${es.length}")
      val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      es.foreach { case (a, b) =>
        var l = adj.get(a)
        if (l == null) { l = scala.collection.mutable.ArrayBuffer.empty[Long]; adj.put(a, l) }
        l += b
      }
      val dist = new java.util.HashMap[Long, java.lang.Long]()
      val queue = new java.util.ArrayDeque[Long]()
      seeds.foreach { v => if (!dist.containsKey(v)) { dist.put(v, 0L); queue.add(v) } }
      while (!queue.isEmpty) {
        val v = queue.poll()
        val d = dist.get(v).longValue
        if (d < maxHops) {
          val nb = adj.get(v)
          if (nb != null) nb.foreach { w =>
            if (!dist.containsKey(w)) { dist.put(w, d + 1L); queue.add(w) }
          }
        }
      }
      val rows = {
        val it = dist.entrySet().iterator()
        val buf = Seq.newBuilder[(Long, Long)]
        while (it.hasNext) { val kv = it.next(); buf += ((kv.getKey, kv.getValue.longValue)) }
        buf.result().sortBy(_._1)
      }
      edges.sparkSession.createDataFrame(rows).toDF("v", "dist")
        .select(col("v").cast("long"), col("dist").cast("long"))
    } else {
      // Synchronous frontier expansion, TWO hops per action (the Scc sweep
      // economy, see Lineage's wave): the settled set each hop anti-joins is
      // the linear union of every level so far.
      val levels = s.wave(seedsP, frontierRows, maxHops) { (frontier, _, settled) =>
        e.join(frontier.select(col("v").as("__f")), col("src") === col("__f"))
          .select(col("dst").as("v"))
          .distinct()
          .join(settled.reduce(_ unionAll _).select(col("v")), Seq("v"), "left_anti")
      }.levels
      // levels stay persisted — same contract as PageRank's ranks: the
      // caller reads the result from cache; blocks age out via LRU.
      levels.map(s.keep).zipWithIndex
        .map { case (level, h) => level.view.withColumn("dist", lit(h.toLong)) }
        .reduce(_ unionAll _)
    }
  }
}
