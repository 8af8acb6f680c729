package graft.operators

import scala.collection.mutable.ListBuffer

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the second of
  * the two published subword-vocabulary algorithms (Kudo 2018), beside
  * [[BpeTrain]]'s merge loop: seed a candidate-piece inventory from
  * corpus substrings, then iterate EM — segment every word under the
  * current piece probabilities, re-estimate probabilities from the
  * segmentation counts — to a fixed point. This implementation runs the
  * hard-EM (Viterbi) variant with add-α smoothing: the E-step keeps the
  * single best segmentation per word (deterministic argmax), the M-step
  * is count/total with a pseudocount floor so an unused piece stays
  * segmentable (α ≥ 1 also keeps every single character usable — no word
  * can become unsegmentable mid-training).
  *
  * Determinism contract (the t56 gate hash-compares the full per-round
  * trace against a hand-derived closed form): Viterbi scores are
  * MICRO-NAT BIGINT fixed point — logp_µ = floor(ln((cnt+α)/T)·1e6),
  * computed once per round on the driver over exact integer counts, so
  * the per-word DP is pure Long arithmetic with an exact tie-break
  * (higher score, then fewer pieces, then the per-position smaller-final-
  * piece rule — see [[viterbi]]); re-running the round replays the
  * identical segmentation. Gate fixtures must keep decision margins ≫ the ≤1 µnat
  * floor error per piece (the t56 fixture's smallest margin is ~152k µ).
  *
  * Scale shape per round: the E-step runs once per DISTINCT word (the
  * [[BpeEncode.tokenizeCorpus]] Zipf memoization — corpus frequency
  * rides along as a weight, so the distributed work is vocab-scale, not
  * token-stream-scale), one piece-keyed aggregate (map-side combined),
  * and one vocab-scale collect to rebuild the probability table — the
  * same bounded driver-side object contract as BpeEncode's merge table,
  * enforced loudly: candidate inventories past `maxCandidates` refuse
  * with the count rather than silently collecting gigabytes (production
  * SentencePiece trains on a corpus SAMPLE for the same reason; sample
  * upstream, then train). The distinct-word frame is pinned once and read
  * through its truncated view ([[graft.engine.Lineage]]).
  *
  * @param docs         corpus frame
  * @param tokenCol     array<string> column of pre-split words
  * @param rounds       EM rounds to run (each emits its trace rows)
  * @param maxPieceLen  seed pieces are all word substrings up to this
  *                     length (single chars always included)
  * @param alpha        add-α pseudocount, ≥ 1
  * @return one row per (round, candidate piece): (round, piece,
  *         piece_count, prob_fp) where piece_count is the round's
  *         Viterbi usage count (zero rows kept — the inventory is part
  *         of the trace) and prob_fp = piece_count·1e6 div round total
  */
object UnigramLm {

  def train(docs: DataFrame, tokenCol: String, rounds: Int, maxPieceLen: Int,
      alpha: Long = 1L, maxCandidates: Int = 1000000): DataFrame = {
    require(rounds >= 1 && rounds <= 1000, s"rounds=$rounds out of range")
    require(maxPieceLen >= 1 && maxPieceLen <= 64, s"maxPieceLen=$maxPieceLen out of range")
    require(alpha >= 1L, s"alpha must be >= 1 (keeps every candidate segmentable), got $alpha")
    val spark = docs.sparkSession
    import spark.implicits._

    val wcDf = docs
      .select(explode(col(tokenCol).cast("array<string>")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    Lineage.scope { s =>
      val wc = s.pin(wcDf).view.as[(String, Long)]
      // seed inventory: substring occurrence counts × word frequency —
      // one explode over the DISTINCT words, one piece-keyed aggregate
      val seed = wc.toDF("w", "n")
        .select(explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("piece"), col("n"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
        .as[(String, Long)].collect()
      require(seed.length <= maxCandidates,
        s"unigram-LM candidate inventory ${seed.length} exceeds maxCandidates=$maxCandidates; " +
          "train on a corpus sample or raise the cap explicitly")
      val pieces = seed.map(_._1).sorted
      var counts: Map[String, Long] = seed.toMap

      val trace = ListBuffer.empty[(Long, String, Long, Long)]
      for (round <- 1 to rounds) {
        val roundCounts = emRound(wc, pieces, counts, alpha, maxPieceLen)
        val roundTotal = roundCounts.valuesIterator.sum
        pieces.foreach { p =>
          val c = roundCounts.getOrElse(p, 0L)
          trace += ((round.toLong, p, c,
            if (roundTotal == 0L) 0L else c * 1000000L / roundTotal))
        }
        counts = roundCounts
      }
      trace.toSeq.toDF("round", "piece", "piece_count", "prob_fp")
    }
  }

  /** Unigram-LM training with the FULL published E-step (Kudo 2018 §3.2)
    * — SOFT EM: instead of [[train]]'s Viterbi argmax, every round
    * computes each piece's EXPECTED usage count over the ENTIRE
    * segmentation lattice by forward-backward, so a piece earns credit
    * from every segmentation in proportion to that segmentation's
    * posterior probability. This is the E-step SentencePiece actually
    * runs; the hard-EM variant is its documented approximation.
    *
    * Determinism contract (the t64 gate hash-compares the full per-round
    * trace against an oracle that re-derives the lattice algebra in SQL):
    * ALL arithmetic is exact. Round-r piece weights are integers
    * q(p) = prob_fp(p) + αFp (1e-6 fixed-point probability units —
    * probability space, not count space, so q and T = Σq stay bounded by
    * ~1e6 + αFp·|vocab| regardless of corpus size, which is what lets
    * the oracle replay products in HUGEINT). Lattice sums use the
    * T-padding scheme: a path with k pieces has probability Πq/T^k, and
    * α_num(i) carries denominator T^i via
    * α_num(i) = Σ_l α_num(i−l)·q(w[i−l..i))·T^(l−1) — exact BigInt, no
    * IEEE anywhere. The expected count of an edge (j, i) is
    * α_num(j)·q·β_num(i)·T^(i−j−1)/Z_num with Z_num = α_num(|w|), and
    * the ONLY rounding in the round is one floor per (word, piece):
    * ec_fp(p, w) = ⌊n_w · Σ_edges num · 1e6 / Z_num⌋, summed exactly as
    * BIGINTs across words. The M-step renormalizes:
    * prob_fp = ec_fp·1e6 div Σ ec_fp.
    *
    * Scale shape per round: identical to [[train]] — one pass over the
    * DISTINCT words (Zipf memoization; the per-word forward-backward is
    * O(len·maxPieceLen) BigInt ops), one piece-keyed aggregate, one
    * vocab-scale collect guarded by `maxCandidates`.
    *
    * @return one row per (round, candidate piece): (round, piece,
    *         ec_fp, prob_fp) — ec_fp is the round's expected usage in
    *         1e-6 word-frequency units (zero rows kept), prob_fp its
    *         renormalized share
    */
  def trainSoft(docs: DataFrame, tokenCol: String, rounds: Int, maxPieceLen: Int,
      alphaFp: Long = 1L, maxCandidates: Int = 1000000): DataFrame = {
    require(rounds >= 1 && rounds <= 1000, s"rounds=$rounds out of range")
    require(maxPieceLen >= 1 && maxPieceLen <= 64, s"maxPieceLen=$maxPieceLen out of range")
    require(alphaFp >= 1L, s"alphaFp must be >= 1 (keeps every candidate alive), got $alphaFp")
    val spark = docs.sparkSession
    import spark.implicits._
    val wcDf = docs
      .select(explode(col(tokenCol).cast("array<string>")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    Lineage.scope { s =>
      val wc = s.pin(wcDf).view.as[(String, Long)]
      val seed = wc.toDF("w", "n")
        .select(explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("piece"), col("n"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
        .as[(String, Long)].collect()
      require(seed.length <= maxCandidates,
        s"unigram-LM candidate inventory ${seed.length} exceeds maxCandidates=$maxCandidates; " +
          "train on a corpus sample or raise the cap explicitly")
      val pieces = seed.map(_._1).sorted
      val seedTotal = seed.iterator.map(c => BigInt(c._2)).sum
      var prob: Map[String, Long] = seed.iterator.map { case (p, c) =>
        p -> (BigInt(c) * 1000000L / seedTotal).toLong
      }.toMap

      val trace = ListBuffer.empty[(Long, String, Long, Long)]
      for (round <- 1 to rounds) {
        val q: Map[String, Long] = pieces.iterator.map(p => p -> (prob(p) + alphaFp)).toMap
        val tBig = q.valuesIterator.map(BigInt(_)).sum
        val bcQ = spark.sparkContext.broadcast(q)
        val tVal = tBig
        val maxLen = maxPieceLen
        val ec: Map[String, Long] = wc.flatMap { case (w, n) =>
          softCounts(w, n, bcQ.value, tVal, maxLen)
        }.toDF("piece", "e")
          .groupBy(col("piece")).agg(sum(col("e")).as("e"))
          .as[(String, Long)].collect().toMap
        bcQ.destroy()
        val total = ec.valuesIterator.map(BigInt(_)).sum
        pieces.foreach { p =>
          val e = ec.getOrElse(p, 0L)
          trace += ((round.toLong, p, e,
            if (total == 0) 0L else (BigInt(e) * 1000000L / total).toLong))
        }
        prob = pieces.iterator.map(p => p -> {
          if (total == 0) 0L else (BigInt(ec.getOrElse(p, 0L)) * 1000000L / total).toLong
        }).toMap
      }
      trace.toSeq.toDF("round", "piece", "ec_fp", "prob_fp")
    }
  }

  /** Exact forward-backward expected counts for one word under integer
    * piece weights q with total T (see [[trainSoft]] for the T-padding
    * denominators). Returns one (piece, ec_fp) per piece OCCURRING in
    * some segmentation of `w`; an unsegmentable word yields nothing. */
  private[graft] def softCounts(w: String, n: Long, q: Map[String, Long],
      t: BigInt, maxPieceLen: Int): Seq[(String, Long)] = {
    val len = w.length
    val alphaN = Array.fill(len + 1)(BigInt(0))
    val betaN = Array.fill(len + 1)(BigInt(0))
    alphaN(0) = BigInt(1)
    betaN(len) = BigInt(1)
    var i = 1
    while (i <= len) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        if (alphaN(i - l) != 0) q.get(w.substring(i - l, i)) match {
          case Some(s) => alphaN(i) += alphaN(i - l) * s * t.pow(l - 1)
          case None => ()
        }
        l += 1
      }
      i += 1
    }
    val z = alphaN(len)
    if (z == 0) return Nil
    i = len - 1
    while (i >= 0) {
      var l = 1
      while (l <= math.min(maxPieceLen, len - i)) {
        if (betaN(i + l) != 0) q.get(w.substring(i, i + l)) match {
          case Some(s) => betaN(i) += betaN(i + l) * s * t.pow(l - 1)
          case None => ()
        }
        l += 1
      }
      i -= 1
    }
    val num = scala.collection.mutable.HashMap.empty[String, BigInt]
    var j = 0
    while (j < len) {
      if (alphaN(j) != 0) {
        var l = 1
        while (l <= math.min(maxPieceLen, len - j)) {
          val p = w.substring(j, j + l)
          if (betaN(j + l) != 0) q.get(p) match {
            case Some(s) =>
              num.updateWith(p) {
                case Some(acc) => Some(acc + alphaN(j) * s * betaN(j + l) * t.pow(l - 1))
                case None => Some(alphaN(j) * s * betaN(j + l) * t.pow(l - 1))
              }
            case None => ()
          }
          l += 1
        }
      }
      j += 1
    }
    num.iterator.map { case (p, nm) =>
      val e = BigInt(n) * nm * 1000000L / z
      require(e.isValidLong,
        s"soft-EM expected count overflows BIGINT for piece '$p' (word freq $n)")
      (p, e.toLong)
    }.toSeq
  }

  /** Micro-nat log-probabilities from counts under add-α smoothing. */
  private def logProbs(pieces: Seq[String], counts: Map[String, Long],
      alpha: Long): Map[String, Long] = {
    val total = pieces.iterator.map(p => counts.getOrElse(p, 0L) + alpha).sum
    pieces.iterator.map { p =>
      p -> math.floor(math.log(
        (counts.getOrElse(p, 0L) + alpha).toDouble / total.toDouble) * 1e6).toLong
    }.toMap
  }

  /** One hard-EM round: Viterbi-segment every distinct word under the
    * current model, return the frequency-weighted piece usage counts. */
  private def emRound(wc: org.apache.spark.sql.Dataset[(String, Long)],
      pieces: Seq[String], counts: Map[String, Long],
      alpha: Long, maxPieceLen: Int): Map[String, Long] = {
    val spark = wc.sparkSession
    import spark.implicits._
    val bcLogp = spark.sparkContext.broadcast(logProbs(pieces, counts, alpha))
    val maxLen = maxPieceLen
    val out = wc.flatMap { case (w, n) =>
      viterbi(w, bcLogp.value, maxLen).map(p => (p, n))
    }.toDF("piece", "c")
      .groupBy(col("piece")).agg(sum(col("c")).as("c"))
      .as[(String, Long)].collect().toMap
    bcLogp.destroy()
    out
  }

  /** Vocabulary-size-targeted training — the published algorithm's THIRD
    * stage (Kudo 2018 §4, SentencePiece's shrinking loop) beside
    * [[train]] and [[encodeCorpus]]: run EM, then PRUNE the lowest-LOSS
    * multi-character pieces and repeat until the inventory fits
    * `targetVocab`. A piece's loss is the corpus likelihood it buys:
    * loss(p) = usage(p) · (logp(p) − altScore(p)) where altScore is the
    * best segmentation of p's own string WITHOUT p under the current
    * model — the practical published approximation (re-segmenting the
    * piece itself rather than the whole corpus per candidate). Loss, not
    * usage: a high-count piece with a cheap alternative ([a][b] one nat
    * worse) prunes BEFORE a low-count piece whose alternative is
    * catastrophic — the t60 fixture pins exactly that inversion. Single
    * characters are never pruned (they keep every word segmentable);
    * losses compare as exact BigInt micro-nats with a lexicographic
    * tie-break. At most `dropPct`% of the multi-char inventory goes per
    * stage (the published gradual shrink, keeping EM counts honest).
    *
    * @return the FINAL inventory: (piece, piece_count, prob_fp)
    */
  def trainPruned(docs: DataFrame, tokenCol: String, targetVocab: Int,
      emRoundsPerStage: Int, maxPieceLen: Int, alpha: Long = 1L,
      dropPct: Int = 25, maxCandidates: Int = 1000000,
      maxStages: Int = 100): DataFrame = {
    require(targetVocab >= 1, s"targetVocab must be >= 1, got $targetVocab")
    require(emRoundsPerStage >= 1 && emRoundsPerStage <= 100,
      s"emRoundsPerStage=$emRoundsPerStage out of range")
    require(dropPct >= 1 && dropPct <= 100, s"dropPct=$dropPct out of range")
    require(alpha >= 1L, s"alpha must be >= 1, got $alpha")
    val spark = docs.sparkSession
    import spark.implicits._
    val wcDf = docs
      .select(explode(col(tokenCol).cast("array<string>")).as("w"))
      .filter(col("w").isNotNull && col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    Lineage.scope { s =>
      val wc = s.pin(wcDf).view.as[(String, Long)]
      val seed = wc.toDF("w", "n")
        .select(explode(flatten(transform(
          sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i + 1)),
            l => col("w").substr(i, l))))).as("piece"), col("n"))
        .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
        .as[(String, Long)].collect()
      require(seed.length <= maxCandidates,
        s"unigram-LM candidate inventory ${seed.length} exceeds maxCandidates=$maxCandidates")
      var pieces: Seq[String] = seed.map(_._1).sorted.toSeq
      var counts: Map[String, Long] = seed.toMap
      val nChars = pieces.count(_.length == 1)
      require(targetVocab >= nChars,
        s"targetVocab=$targetVocab is below the alphabet size $nChars — " +
          "single characters are never pruned")
      var stage = 0
      var done = false
      while (!done) {
        require(stage < maxStages,
          s"unigram-LM pruning did not reach $targetVocab in $maxStages stages")
        for (_ <- 1 to emRoundsPerStage)
          counts = emRound(wc, pieces, counts, alpha, maxPieceLen)
        if (pieces.length <= targetVocab) done = true
        else {
          val multi = pieces.filter(_.length > 1)
          require(multi.nonEmpty,
            s"cannot prune below the alphabet: ${pieces.length} pieces are all single chars")
          val logp = logProbs(pieces, counts, alpha)
          val losses = multi.map { p =>
            val without = logp - p
            val altPath = viterbi(p, without, maxPieceLen)
            require(altPath.nonEmpty, s"piece '$p' unsegmentable without itself")
            val alt = altPath.iterator.map(without).sum
            (BigInt(counts.getOrElse(p, 0L)) * BigInt(logp(p) - alt), p)
          }.sortBy { case (loss, p) => (loss, p) }
          val k = math.min(pieces.length - targetVocab,
            math.max(1, multi.length * dropPct / 100))
          val drop = losses.take(k).map(_._2).toSet
          pieces = pieces.filterNot(drop)
          counts = counts.filter { case (p, _) => !drop(p) }
        }
        stage += 1
      }
      val total = counts.valuesIterator.sum
      pieces.map { p =>
        val c = counts.getOrElse(p, 0L)
        (p, c, if (total == 0L) 0L else c * 1000000L / total)
      }.toDF("piece", "piece_count", "prob_fp")
    }
  }

  /** Corpus-scale ENCODING with a trained unigram-LM vocabulary — the
    * [[BpeEncode.tokenizeCorpus]] shape for the EM-trained model: the
    * Viterbi loop runs once per DISTINCT word (Zipf memoization —
    * vocab-scale work, sublinear in corpus size) under the broadcast
    * piece table, then a word-keyed join fans subtokens back out and
    * document order is restored via sort_array(struct(pos, …)). A word
    * the vocabulary cannot segment (a character outside every piece)
    * becomes the single token `<unk>` — the published SentencePiece
    * convention, deterministic and oracle-expressible.
    *
    * @param pieceCounts the trained inventory — [[train]]'s FINAL-round
    *                    (piece, piece_count) rows, vocab-scale
    * @return (idCol, toks array<string>, n_tokens); empty/whitespace
    *         docs keep an empty array, not a dropped row
    */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      pieceCounts: Seq[(String, Long)], maxPieceLen: Int,
      alpha: Long = 1L): DataFrame = {
    require(alpha >= 1L, s"alpha must be >= 1, got $alpha")
    require(pieceCounts.nonEmpty, "empty piece inventory")
    val spark = docs.sparkSession
    import spark.implicits._
    val total = pieceCounts.iterator.map(_._2).sum + alpha * pieceCounts.length
    val logp: Map[String, Long] = pieceCounts.iterator.map { case (p, c) =>
      p -> math.floor(math.log((c + alpha).toDouble / total.toDouble) * 1e6).toLong
    }.toMap
    val bc = spark.sparkContext.broadcast(logp)
    val maxLen = maxPieceLen
    val words = docs.select(col(idCol).as("id"),
        posexplode(graft.functions.TextTokens.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    val vocab = words.select(col("w")).distinct().as[String]
      .map { w =>
        val segs = viterbi(w, bc.value, maxLen)
        (w, if (segs.isEmpty) Array("<unk>") else segs.toArray)
      }
      .toDF("w", "subtoks")
    val assembled = words.join(vocab, "w")
      .groupBy(col("id"))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("subtoks"))))
        .getField("subtoks")).as("toks"))
    docs.select(col(idCol).as("id"))
      .join(assembled, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("toks"), array().cast("array<string>")).as("toks"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_tokens"))
  }

  /** Best segmentation of `w` under micro-nat piece scores: Long-exact
    * DP, O(len · maxPieceLen) lookups. Tie-break: higher score, then
    * FEWER pieces, then — applied at EVERY DP position independently —
    * the smaller FINAL piece (the string ending at that position). This
    * is total and deterministic (a re-run replays the identical path),
    * but it is per-position, not a global lexicographic compare of the
    * two full sequences: two equal-score equal-count segmentations that
    * differ before their last piece resolve by the last piece alone.
    * A word containing a character absent from the table segments to the
    * empty list (callers seed all single chars, so this only happens on
    * foreign input). */
  private[graft] def viterbi(
      w: String, logp: Map[String, Long], maxPieceLen: Int): List[String] = {
    val n = w.length
    val best = new Array[Long](n + 1)
    val nPieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1) // start index of the last piece
    val ok = new Array[Boolean](n + 1)
    best(0) = 0L; ok(0) = true
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        val j = i - l
        if (ok(j)) {
          logp.get(w.substring(j, i)) match {
            case Some(s) =>
              val cand = best(j) + s
              val take =
                if (!ok(i)) true
                else if (cand != best(i)) cand > best(i)
                else if (nPieces(j) + 1 != nPieces(i)) nPieces(j) + 1 < nPieces(i)
                else {
                  // equal score, equal length: rebuild both tails is
                  // overkill — compare the last pieces (longer l means
                  // smaller start j; resolve by smaller piece string)
                  w.substring(j, i) < w.substring(back(i), i)
                }
              if (take) { ok(i) = true; best(i) = cand; nPieces(i) = nPieces(j) + 1; back(i) = j }
            case None => ()
          }
        }
        l += 1
      }
      i += 1
    }
    if (!ok(n)) Nil
    else {
      var out = List.empty[String]
      var at = n
      while (at > 0) {
        out = w.substring(back(at), at) :: out
        at = back(at)
      }
      out
    }
  }
}
