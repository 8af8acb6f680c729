package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DeepWalk-style random-walk corpus generation (Perozzi, Al-Rfou &
  * Skiena, KDD 2014 — public algorithm): fixed-length uniform walks from
  * every seed vertex, the sentence-corpus prep for graph-embedding
  * training (each walk is a "sentence" of vertex tokens for a skip-gram
  * model — node2vec's p/q bias is a different transition rule on the same
  * scaffold).
  *
  * Determinism: the "random" next hop is a HASH-CHOSEN neighbor index —
  * mix(seed, walk, step, v) mod deg(v) over the dst-sorted adjacency —
  * so walks are reproducible across engines, retries, and partitionings
  * (the jlSigns philosophy: pseudo-randomness the oracle can replay).
  * The mix is plain modular integer arithmetic (no engine hash
  * function), with every intermediate bounded ≪ 2^63: DuckDB raises on
  * BIGINT overflow rather than wrapping, so cross-engine parity REQUIRES
  * staying in range, not relying on wraparound.
  *
  * Scale shape per step: ONE vertex-keyed join to fetch the frontier's
  * degree (vertex-scale) and ONE (src, idx) equi-join into the indexed
  * adjacency (edge-keyed, the only fact-scale shuffle); walks at dangling
  * vertices stop (no emissions past the dead end). The adjacency is
  * indexed ONCE (row_number over the src partition) and persisted for
  * the loop; per-step frames are pinned and read through their truncated
  * views ([[graft.engine.Lineage]]), so the plan stays one step deep for
  * any length; the step leaves stay cached because the final union reads
  * every one (the Bfs levels contract).
  */
object RandomWalks {

  /** The walk's deterministic transition mix — REPLICATED in the d57
    * oracle; change both or neither. Inputs are reduced mod 1e6+3 before
    * the multiplies so every product stays ≪ 2^63 in BOTH engines. */
  private def mix(seed: Column, walk: Column, step: Column, v: Column): Column =
    ((seed % 1000003L) * 2654435761L + walk * 40503L + step * 65599L +
      (v % 1000003L) * 97L) % 1000000007L

  /** Driver twin of [[mix]] — change both or neither (the d57 oracle
    * replicates the same arithmetic a third time). */
  private def mixLocal(seed: Long, walk: Long, step: Long, v: Long): Long =
    ((seed % 1000003L) * 2654435761L + walk * 40503L + step * 65599L +
      (v % 1000003L) * 97L) % 1000000007L

  /** @param edges        directed (src, dst) long ids; walk an undirected
    *                     graph by mirroring first
    * @param seeds        one column `v` — walk start vertices (dedup'd)
    * @param length       steps per walk (≤ 64; each walk emits length+1
    *                     rows unless it dies at a dangling vertex)
    * @param walksPerSeed parallel walks per seed, distinct `walk` ids
    * @param localFinishMaxRows the serial-endgame cutover (the
    *        [[Scc.components]] doctrine): when distinct edges + the FULL
    *        walk output (seeds × walksPerSeed × (length+1)) fit under
    *        this count-scale budget, the adjacency is collected once and
    *        the hash-chosen walks replay on the driver — the transition
    *        is deterministic integer arithmetic, so the rows are
    *        bit-identical to the distributed steps. 0 forces the
    *        all-distributed path (the parity spec uses this).
    * @return (seed, walk, step, v) — step 0 is the seed itself */
  def deepWalks(
      edges: DataFrame, seeds: DataFrame,
      length: Int, walksPerSeed: Int = 1,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    require(length >= 1 && length <= 64,
      s"walk length must be in [1, 64], got $length")
    require(walksPerSeed >= 1 && walksPerSeed <= 128,
      s"walksPerSeed must be in [1, 128], got $walksPerSeed")
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // dst-sorted neighbor index + degree, attached once: the step join
    // needs (src, idx) → dst and deg(src) together.
    import org.apache.spark.sql.expressions.Window
    val (eDistinct, eRows) = s.pinBy(e.distinct())(_.count())
    val (seedsP, seedRows) = s.pinBy(seeds.select(col("v").cast("long").as("v")).distinct())(
      _.count())
    if (eRows + seedRows * walksPerSeed * (length + 1L) <= localFinishMaxRows) {
      // --- SERIAL ENDGAME: collect the dst-sorted adjacency once and
      // replay the deterministic hash-chosen walks on the driver.
      // buffer-then-sort: a per-edge Array append would be O(degree²) on
      // skewed hubs (self-review finding) — the buffer keeps it linear
      val adjBuf = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
      eDistinct.frame.collect().foreach { r =>
        val s = r.getLong(0)
        var cur = adjBuf.get(s)
        if (cur == null) {
          cur = scala.collection.mutable.ArrayBuffer.empty[Long]
          adjBuf.put(s, cur)
        }
        cur += r.getLong(1)
      }
      val adjMap = new java.util.HashMap[Long, Array[Long]](adjBuf.size() * 2)
      val it = adjBuf.entrySet().iterator()
      while (it.hasNext) {
        val e2 = it.next()
        val arr = e2.getValue.toArray
        java.util.Arrays.sort(arr)
        adjMap.put(e2.getKey, arr)
      }
      val seedArr = seedsP.frame.collect().map(_.getLong(0)).sorted
      Console.err.println(
        s"[walks] local-endgame seeds=${seedArr.length} edges=$eRows")
      val rows = Seq.newBuilder[(Long, Long, Long, Long)]
      seedArr.foreach { seed =>
        var w = 0L
        while (w < walksPerSeed) {
          var v = seed
          rows += ((seed, w, 0L, v))
          var s = 1L
          var alive = true
          while (s <= length && alive) {
            val nb = adjMap.get(v)
            val pick = if (nb == null) -1L else mixLocal(seed, w, s, v) % nb.length
            // negative ids make the mix (Java %) negative — the engine's
            // (src, idx) join then matches NO index and the walk dies;
            // the driver twin must die identically, not throw (parity
            // divergence found by self-review)
            if (nb == null || pick < 0L) alive = false
            else {
              v = nb(pick.toInt)
              rows += ((seed, w, s, v))
              s += 1
            }
          }
          w += 1
        }
      }
      seeds.sparkSession.createDataFrame(rows.result())
        .toDF("seed", "walk", "step", "v")
        .select(col("seed").cast("long"), col("walk").cast("long"),
          col("step").cast("long"), col("v").cast("long"))
    } else {
      val adj = s.pin(eDistinct.view
        .withColumn("idx",
          (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
            .cast("long"))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))).view
      val degs = adj.select(col("src"), col("deg")).distinct()
      val (frontier0, frontierRows) = s.pinBy(seedsP.view
        .crossJoin(
          seeds.sparkSession.range(walksPerSeed.toLong).select(col("id").as("walk")))
        .select(col("v").as("seed"), col("walk"), col("v")))(_.count())
      // TWO steps per ACTION (Lineage's wave). The step leaves stay cached
      // after return because the result reads every one (unpersisting
      // early would force recompute chains).
      val steps = s.wave(frontier0, frontierRows, length) { (fr, step, _) => fr
        .join(degs, fr("v") === degs("src"))
        .select(col("seed"), col("walk"),
          (mix(col("seed"), col("walk"), lit(step.toLong), col("v")) % col("deg"))
            .as("pick"),
          col("v").as("cur"))
        .join(adj, col("cur") === adj("src") && col("pick") === adj("idx"))
        .select(col("seed"), col("walk"), col("dst").as("v"))
      }.levels
      // steps stay persisted (the Bfs contract): the caller reads the walk
      // corpus from cache; blocks age out via LRU.
      steps.map(s.keep).zipWithIndex
        .map { case (level, step) => level.view.withColumn("step", lit(step.toLong)) }
        .reduce(_ unionAll _)
        .select(col("seed"), col("walk"), col("step"), col("v"))
    }
  }

  /** node2vec-biased walks (Grover & Leskovec, KDD 2016 — public
    * algorithm): the SECOND-ORDER transition on [[deepWalks]]' scaffold.
    * Each candidate next-hop c from v is weighted by where it sits
    * relative to the PREVIOUS vertex — `wBack` for returning (c = prev),
    * `wCommon` for triangle-closing (edge prev→c exists), `wForward`
    * for exploring — and the hop is the hash-chosen point in the
    * candidates' EXACT integer cumulative-weight line (r = mix mod
    * total; the candidate whose [cumBefore, cum) interval holds r).
    * Original node2vec weights are 1/p, 1, 1/q; integer weights are the
    * same family cleared of denominators, kept exact for the oracle.
    * Step 1 has no prev: every candidate weighs `wCommon` (uniform).
    *
    * Scale shape per step: the deg join + adjacency join of
    * [[deepWalks]], ONE extra (prev, dst)-keyed join tagging
    * triangle-closers, and a per-walker cumulative window whose
    * partitions are single-walker candidate lists (bounded by max
    * degree, never corpus-scale). Same iteration hygiene.
    */
  def node2vecWalks(
      edges: DataFrame, seeds: DataFrame, length: Int,
      wBack: Long = 1L, wCommon: Long = 2L, wForward: Long = 4L): DataFrame = Lineage.scope { s =>
    require(length >= 1 && length <= 64,
      s"walk length must be in [1, 64], got $length")
    require(wBack >= 0L && wCommon >= 0L && wForward >= 0L &&
      wBack + wCommon + wForward > 0L,
      "weights must be non-negative and not all zero")
    import org.apache.spark.sql.expressions.Window
    val e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val adj = s.pin(e.distinct()
      .withColumn("idx",
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("long"))).view
    // triangle tags probe this as (prev, dst) — one copy, same cache
    val epairs = adj.select(col("src").as("__p"), col("dst").as("__c"), lit(1L).as("__t"))
    // (seed, prev, v); prev = -1 sentinel at step 0
    val (frontier0, frontierRows) = s.pinBy(seeds.select(col("v").cast("long").as("v")).distinct()
      .select(col("v").as("seed"), lit(-1L).as("prev"), col("v")))(_.count())
    def stepFn(fr: DataFrame, step: Int): DataFrame = {
      val wCand = fr
        .join(adj, fr("v") === adj("src"))
        .join(epairs,
          col("prev") === col("__p") && col("dst") === col("__c"), "left")
        .select(col("seed"), col("prev"), col("v"), col("dst"), col("idx"),
          when(col("prev") === lit(-1L), lit(wCommon))
            .when(col("dst") === col("prev"), lit(wBack))
            .when(col("__t").isNotNull, lit(wCommon))
            .otherwise(lit(wForward)).as("w"))
      val walker = Window.partitionBy(col("seed"), col("v"), col("prev"))
      wCand
        .withColumn("cum", sum(col("w")).over(walker.orderBy(col("idx"))))
        .withColumn("total", sum(col("w")).over(walker))
        // total can be 0 when every candidate's weight is 0 (e.g. only a
        // wBack=0 return hop) — the walker stops; CASE-guarded because
        // ANSI mode makes a bare `% 0` throw rather than null
        .withColumn("r",
          when(col("total") > 0L,
            mix(col("seed"), lit(0L), lit(step.toLong), col("v")) % col("total")))
        .filter(col("cum") - col("w") <= col("r") && col("r") < col("cum"))
        .select(col("seed"), col("v").as("prev"), col("dst").as("v"))
    }
    // TWO steps per ACTION (the deepWalks economy above)
    s.wave(frontier0, frontierRows, length)((fr, step, _) => stepFn(fr, step)).levels
      .map(s.keep).zipWithIndex
      .map { case (level, step) =>
        level.view.select(col("seed"), lit(step.toLong).as("step"), col("v"))
      }
      .reduce(_ unionAll _)
      .select(col("seed"), col("step"), col("v"))
  }
}
