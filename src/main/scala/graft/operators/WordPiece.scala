package graft.operators

import scala.collection.mutable.ListBuffer

import graft.engine.Lineage
import graft.functions.expr.BpeMergePass
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** WordPiece merge training (Schuster & Nakajima 2012; the trainer
  * behind BERT's vocabulary — public algorithm), completing the third
  * published subword family beside [[BpeTrain]] (frequency-ranked
  * merges) and [[UnigramLm]] (EM pruning): WordPiece promotes the
  * adjacent pair maximizing the LIKELIHOOD score
  *
  *   score(l, r) = count(l·r adjacent) / (count(l) · count(r))
  *
  * — the pair whose merge most increases corpus likelihood under a
  * unigram LM, NOT the most frequent pair. The t80 fixture is built on
  * exactly that difference: a rarer pair of rare symbols outscores the
  * frequent pair of frequent symbols, so a frequency-ranked trainer
  * (BPE) produces a different round-1 merge and fails the hash.
  *
  * Determinism: counts are exact longs, and the ranking is EXACT
  * INTEGER arithmetic — score(a) vs score(b) compares by BigInt
  * cross-multiplication cnt_a·lc_b·rc_b vs cnt_b·lc_a·rc_a, never a
  * float. (An IEEE double cnt/(lc.toDouble·rc.toDouble) rounds the
  * product once it exceeds 2^53, so at ~2^26.5-scale counts
  * exactly-equal ratios could diverge or distinct ones collide and
  * silently flip the tie-break path; cross-multiplication makes the
  * documented tie semantics hold at EVERY corpus scale — the fixture's
  * round-2 tie 3N/(4N·3N) = N/(2N·2N) ties exactly by construction.)
  * Ties break (left, right) ASC; candidates need pair count ≥ 2 (the
  * BpeTrain stopping rationale: rarer merges memorize single documents).
  *
  * Scale shape per round: one pair-count aggregate + one symbol-count
  * aggregate (both map-side combined, shuffle rows bounded by distinct
  * pairs/symbols), a broadcast-joined candidate frame, and an exact
  * distributed argmax — per-partition reduceOption to ≤ one candidate
  * each, then a ≤ numPartitions-row driver pick (count-scale, same
  * collect budget as the old 1-row orderBy·limit) — then one
  * embarrassingly-parallel [[BpeMergePass]] rewrite. Same RDD-leaf
  * iteration hygiene as [[BpeTrain]].
  */
object WordPiece {

  /** @param docs     corpus frame
    * @param tokenCol array<string> column of pre-split symbols
    * @param rounds   merge table size to learn
    * @return (round, left, right, pair_count, left_count, right_count) —
    *         one row per learned merge in training order (the score's
    *         exact integer inputs ride along so gates can pin the
    *         ranking); stops early when no pair repeats
    */
  def train(docs: DataFrame, tokenCol: String, rounds: Int,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame =
    trainLoop(docs.select(col(tokenCol).cast("array<string>").as("toks"),
        lit(1L).as("freq")),
      rounds, (l, r) => l + r, localFinishMaxRows)

  /** WordPiece training FROM WORDS — the production entry point (the
    * trainer BERT vocabularies actually come from): lowercased
    * whitespace words seed as [c0, ##c1, ##c2, …] (first char bare,
    * continuations ##-prefixed), each word its own symbol stream so
    * merges never cross word boundaries, and a merge's new symbol is
    * l + r WITHOUT the right's ## ("##ow"+"##e" → "##owe",
    * "l"+"##ow" → "low") — so the learned table plus the seed chars IS
    * a [[encodeCorpus]] vocabulary, closing the train → encode loop.
    * Same score/tie/stopping semantics as [[train]].
    *
    * Scale shape (r17): the word stream HISTOGRAMS first — one corpus-
    * scale map-side-combined count, then every training round (pair
    * aggregate, unit aggregate, rewrite) runs over the DISTINCT-word
    * frame with counts weighted by word frequency (the ByteBpe trainer
    * shape; exactly equal counts by construction since identical
    * streams contribute identically). Zipf makes that vocab-scale —
    * sublinear in corpus size — and brings a REAL corpus under the
    * serial-endgame budget, where the per-occurrence stream would stay
    * corpus-bound on both paths. */
  def trainFromWords(docs: DataFrame, textCol: String, rounds: Int,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = {
    val streams = docs
      .select(explode(graft.functions.TextTokens.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(transform(split(col("w"), ""),
        (c, i) => when(i === 0, c).otherwise(concat(lit("##"), c))).as("toks"),
        col("freq"))
    trainLoop(streams, rounds,
      (l, r) => l + (if (r.startsWith("##")) r.substring(2) else r),
      localFinishMaxRows)
  }

  /** `symbols` carries (toks array<string>, freq long) — a WEIGHTED
    * symbol-stream histogram; counts are per-occurrence sums weighted
    * by freq on both the distributed and endgame paths. */
  private def trainLoop(symbols: DataFrame, rounds: Int,
      mergedSymbol: (String, String) => String,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    require(rounds >= 1 && rounds <= 10000, s"rounds=$rounds out of range")
    val spark = symbols.sparkSession
    import spark.implicits._

    // serial-endgame cutover (the Scc/Bfs doctrine, see ByteBpe.train):
    // under the rows+symbols budget, collect once and finish in
    // LocalSubword. WordPiece's likelihood score makes this the ONLY
    // sound fast path — a lazy max-heap is unsound here because
    // cnt/(lc*rc) can INCREASE when a unit count drops (LocalSubword
    // scans the candidate map instead), and distributed rounds above
    // budget pay one full argmax aggregate each anyway.
    val (h0, stw) = s.pinBy(symbols)(
      _.agg(count(lit(1)), coalesce(sum(size(col("toks"))), lit(0L))).collect()(0))
    val (hRows, hSyms) = (stw.getLong(0), stw.getLong(1))
    if (hRows + hSyms <= localFinishMaxRows) {
      // null arrays: same rationale as BpeTrain's endgame (distributed
      // path drops them via explode; the collect must match)
      val rows = h0.frame.select(col("toks"), col("freq"))
        .filter(col("toks").isNotNull).collect()
      h0.release()
      Console.err.println(
        s"[wordpiece] local-endgame rows=$hRows symbols=$hSyms rounds<=$rounds")
      val toks = rows.map(_.getSeq[String](0).toArray)
      val ws = rows.map(_.getLong(1))
      LocalSubword
        .wordPieceLocal(toks, ws, rounds, mergedSymbol)
        .toDF("round", "left", "right", "pair_count", "left_count", "right_count")
        .withColumn("round", col("round").cast("long"))
    } else {
      var cur = h0
      val merges = ListBuffer.empty[(Int, String, String, Long, Long, Long)]
      var round = 1
      var exhausted = false
      while (round <= rounds && !exhausted) {
        val pairs = cur.view.select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
          .filter(col("cnt") >= 2)
        val units = cur.view.select(col("freq"), explode(col("toks")).as("s"))
          .groupBy(col("s")).agg(sum(col("freq")).as("uc"))
        val cands = pairs
          .join(broadcast(units.select(col("s").as("l"), col("uc").as("lc"))), Seq("l"))
          .join(broadcast(units.select(col("s").as("r"), col("uc").as("rc"))), Seq("r"))
          .select(col("l"), col("r"), col("cnt"), col("lc"), col("rc"))
        // exact argmax of cnt/(lc·rc): BigInt cross-multiplication, ties
        // (l, r) ASC in UTF-8 BYTE order — the ordering the replaced
        // engine-side orderBy (UTF8String) used and DuckDB's memcmp
        // uses; java.lang.String.compareTo is UTF-16 code-unit order,
        // which ranks supplementary-plane symbols (surrogates start
        // 0xD800) BELOW U+E000..U+FFFF while UTF-8 ranks them above —
        // a tie between such symbols would silently pick the other
        // merge (spec-pinned)
        def u8cmp(x: String, y: String): Int = LocalSubword.u8cmp(x, y)
        def better(a: Row, b: Row): Row = {
          val c = (BigInt(a.getLong(2)) * BigInt(b.getLong(3)) * BigInt(b.getLong(4)))
            .compare(BigInt(b.getLong(2)) * BigInt(a.getLong(3)) * BigInt(a.getLong(4)))
          if (c != 0) { if (c > 0) a else b }
          else {
            val lc = u8cmp(a.getString(0), b.getString(0))
            if (lc != 0) { if (lc < 0) a else b }
            else if (u8cmp(a.getString(1), b.getString(1)) <= 0) a else b
          }
        }
        val top = cands.rdd
          .mapPartitions(it => it.reduceOption(better).iterator)
          .collect().reduceOption(better)
        if (top.isEmpty) {
          exhausted = true // no pair occurs twice
        } else {
          val t = top.get // explicit select order: l, r, cnt, lc, rc
          val (l, r) = (t.getString(0), t.getString(1))
          merges += ((round, l, r, t.getLong(2), t.getLong(3), t.getLong(4)))
          val next = s.pin(cur.view
            .select(BpeMergePass(col("toks"), l, r, mergedSymbol(l, r)).as("toks"),
              col("freq")))
          cur.release()
          cur = next
          round += 1
        }
      }
      merges.toSeq.toDF("round", "left", "right", "pair_count", "left_count", "right_count")
        .withColumn("round", col("round").cast("long"))
    }
  }

  /** Greedy longest-match-first segmentation — the published WordPiece
    * INFERENCE rule (BERT's tokenizer): at each position take the
    * LONGEST vocab piece matching the remaining suffix; pieces past
    * position 0 match with the `##` continuation prefix. If some
    * position matches nothing, the WHOLE word is unknown (Nil here; the
    * caller substitutes its unk token) — the published all-or-nothing
    * rule, not a partial fallback. */
  private[graft] def greedyPieces(
      w: String, vocab: Set[String], maxPieceLen: Int): List[String] = {
    val out = ListBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      var l = math.min(maxPieceLen, w.length - i)
      var found: String = null
      while (l >= 1 && found == null) {
        val raw = w.substring(i, i + l)
        val cand = if (i == 0) raw else "##" + raw
        if (vocab.contains(cand)) found = cand
        l -= 1
      }
      if (found == null) return Nil
      out += found
      i += (if (i == 0) found.length else found.length - 2)
    }
    out.toList
  }

  /** Corpus-scale WordPiece encoding: lowercased whitespace words, each
    * segmented ONCE per distinct word (the BpeEncode/UnigramLm Zipf
    * memoization — distributed, vocab-scale) against a broadcast piece
    * set, joined back and reassembled in document order. Unknown words
    * become one `unk` token (the published rule).
    *
    * @return (idCol, toks array<string>, n_tokens); empty-text rows keep
    *         an empty array */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], maxPieceLen: Int = 64,
      unk: String = "<unk>"): DataFrame = {
    require(vocab.nonEmpty, "empty vocabulary")
    require(maxPieceLen >= 1 && maxPieceLen <= 256,
      s"maxPieceLen=$maxPieceLen out of range")
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.toSet)
    val maxLen = maxPieceLen
    val theUnk = unk
    val words = docs.select(col(idCol).as("id"),
        posexplode(graft.functions.TextTokens.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val pieces = words.select(col("w")).distinct().as[String]
      .map { w =>
        val segs = greedyPieces(w, bc.value, maxLen)
        (w, if (segs.isEmpty) Array(theUnk) else segs.toArray)
      }
      .toDF("w", "subtoks")
    val assembled = words.join(pieces, "w")
      .groupBy(col("id"))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("subtoks"))))
        .getField("subtoks")).as("toks"))
    docs.select(col(idCol).as("id"))
      .join(assembled, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("toks"), array().cast("array<string>")).as("toks"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_tokens"))
  }
}
