package graft.operators

import scala.collection.mutable.ListBuffer

import graft.engine.Lineage
import graft.functions.expr.{BpeApply, BpeMergePass}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative BPE merge training — the tokenizer-vocabulary loop (Sennrich
  * et al. 2016) over a distributed corpus: each round counts every
  * adjacent token pair, promotes the most frequent pair to a new symbol
  * (deterministic tie-break: count DESC, then left/right ASC), and
  * rewrites the corpus with one greedy merge pass. `t40_bpe_pair_counts`
  * gates a single round's counting; this operator is the full training
  * loop that produces the merge TABLE a tokenizer ships.
  *
  * Scale shape per round: ONE pair-count aggregate (map-side combine on
  * (left,right) — shuffle rows bounded by distinct pairs, not corpus
  * size), a 1-ROW collect for the argmax (never data-scale), and one
  * embarrassingly-parallel rewrite via the native [[BpeMergePass]]
  * expression. The corpus frame is pinned per round and read through its
  * truncated view ([[graft.engine.Lineage]]: each round's frame feeds BOTH
  * the count job and the next round, and an un-truncated plan would re-run
  * every prior merge pass each round).
  */
object BpeTrain {

  /** @param docs     corpus frame
    * @param tokenCol array<string> column of pre-split tokens
    * @param rounds   merge table size to learn
    * @param localFinishMaxRows the serial-endgame cutover (the Scc/Bfs
    *        doctrine, see [[ByteBpe.train]]): when the symbol-stream
    *        rows + total symbols fit this budget, collect once and run
    *        the merge loop driver-side in [[LocalSubword]] — the cure
    *        for the one-job-per-merge scheduling wall; above budget the
    *        distributed per-round loop remains. Bit-identical paths
    *        (`SubwordEndgameSpec`).
    * @return (round, left, right, pair_count) — one row per learned
    *         merge, in training order; stops early when no pair repeats
    */
  def train(docs: DataFrame, tokenCol: String, rounds: Int,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    require(rounds >= 1 && rounds <= 10000, s"rounds=$rounds out of range")
    val spark = docs.sparkSession
    import spark.implicits._

    val (h0, st) = s.pinBy(docs.select(col(tokenCol).cast("array<string>").as("toks")))(
      _.agg(count(lit(1)), coalesce(sum(size(col("toks"))), lit(0L))).collect()(0))
    val (hRows, hSyms) = (st.getLong(0), st.getLong(1))
    if (hRows + hSyms <= localFinishMaxRows) {
      // null token arrays contribute nothing on the distributed path
      // (explode/zip_with of null yields no rows) — drop them here too,
      // or getSeq would NPE and the same input would crash or not
      // depending on which side of the budget it lands
      val rows = h0.frame.select(col("toks")).filter(col("toks").isNotNull).collect()
      h0.release()
      Console.err.println(
        s"[bpe] local-endgame rows=$hRows symbols=$hSyms rounds<=$rounds")
      val toks = rows.map(_.getSeq[String](0).toArray)
      LocalSubword.bpeLocal(toks, Array.fill(toks.length)(1L), rounds)
        .toDF("round", "left", "right", "pair_count")
        .withColumn("round", col("round").cast("long"))
    } else {
      var cur = h0
      val merges = ListBuffer.empty[(Int, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= rounds && !exhausted) {
        val pairs = cur.view.select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(count(lit(1)).as("cnt"))
        val top = pairs
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty || top(0).getLong(2) < 2) {
          // no pair occurs twice — further merges would memorize single
          // documents; standard trainers stop here
          exhausted = true
        } else {
          val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round, l, r, cnt))
          val next = s.pin(cur.view.select(BpeMergePass(col("toks"), l, r).as("toks")))
          // previous round's blocks are no longer referenced
          cur.release()
          cur = next
          round += 1
        }
      }
      merges.toSeq.toDF("round", "left", "right", "pair_count")
        .withColumn("round", col("round").cast("long"))
    }
  }
}

/** BPE ENCODING — applying a trained merge table ([[BpeTrain.train]]'s
  * output, collected to a `Seq` — merge tables are vocabulary-scale, a
  * bounded driver-side object like a broadcast dimension, never
  * data-scale). Two entry points with very different scale shapes:
  *
  *   - [[encode]]: the raw symbol-sequence encoder, one native
  *     [[BpeApply]] per row — O(merges × tokens) per row. Right for
  *     short symbol sequences (single words, gate fixtures).
  *   - [[tokenizeCorpus]]: corpus-scale text tokenization. BPE merges
  *     never cross word boundaries, and corpus word frequency is Zipfian
  *     — so the expensive merge loop runs once per DISTINCT word
  *     (vocab-scale, sublinear in corpus size), and a word→subtokens
  *     join fans the result back out to the token stream. At 100 TB the
  *     encode stage is a rounding error next to the join; the join
  *     itself shuffles on the word key, whose head ("the", "di", …) is
  *     exactly the skew AQE's skew-join splitting exists for (the vocab
  *     side of a hot key is ONE row, so a split fact partition
  *     replicates almost nothing).
  */
object BpeEncode {

  /** Apply the merge table, in training order, to a token-array column. */
  def encode(tokens: Column, merges: Seq[(String, String)]): Column =
    BpeApply(tokens, merges)

  /** Tokenize a text column into BPE subtokens: lowercased whitespace
    * words, each char-split and encoded ONCE per distinct word, then
    * joined back and reassembled in document order.
    *
    * @return (idCol, toks array<string>, n_tokens) — one row per input
    *         row; empty-text rows keep an empty array, not a dropped row
    */
  def tokenizeCorpus(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col(idCol).as("id"),
        posexplode(graft.functions.TextTokens.tokens(col(textCol))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
    // the merge loop runs here — once per distinct word, not per token
    val vocab = words.select(col("w")).distinct()
      .select(col("w"), BpeApply(split(col("w"), ""), merges).as("subtoks"))
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
}
