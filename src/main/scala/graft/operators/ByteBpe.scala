package graft.operators

import scala.collection.mutable.ListBuffer

import graft.engine.Lineage
import graft.functions.expr.{BpeApply, BpeMergePass}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BYTE-LEVEL BPE — the GPT-2-family tokenizer (Radford et al. 2019;
  * the published byte-level variant every current LLM corpus actually
  * trains), completing the byte-level row beside [[BpeTrain]]'s
  * char-level merges: the base alphabet is the 256 BYTE values (mapped
  * through the published reversible byte→unicode table so merges
  * operate on printable strings), text pre-splits with the published
  * GPT-2 pretokenizer regex, and merges never cross pretoken
  * boundaries. Two properties make it the production variant:
  *
  *   - NO unknown token, ever — every byte of any input is in the base
  *     alphabet, so encoding is total and decode(encode(x)) == x for
  *     arbitrary Unicode (emoji, CJK, mojibake alike). Char-level BPE
  *     has an open-ended base vocabulary instead.
  *   - merges can form INSIDE a multi-byte UTF-8 character (é is two
  *     base symbols here, one atomic symbol at char level) and ACROSS
  *     the leading-space boundary (the famous Ġ tokens) — the t84
  *     fixture separates on exactly these.
  *
  * The byte→unicode table is the published one: printable bytes
  * [33,126] ∪ [161,172] ∪ [174,255] map to their own codepoint; the 68
  * others (controls, space, DEL, 0xAD) map to 256+n in byte order — a
  * 256-way bijection with no whitespace/control chars, so learned
  * symbols survive any text serialization.
  *
  * Training counts are WORD-FREQUENCY weighted — the published trainer
  * shape: one corpus-scale pretoken count (ONE shuffle, map-side
  * combined), then every round's pair count and merge rewrite run over
  * the DISTINCT-pretoken frame (vocab-scale, Zipf-sublinear in corpus
  * size) with counts weighted by pretoken frequency. At 100 TB this is
  * the difference between rewriting ~10⁸ vocab rows and ~10¹¹ corpus
  * rows per round; [[BpeTrain]]'s stream-rewrite shape is kept there
  * for symbol-sequence corpora that aren't word-decomposable. Argmax
  * is count DESC then (left, right) ASC over exact longs; candidates
  * need weighted count ≥ 2 (the BpeTrain stopping rationale). Same
  * per-round persist + RDD-leaf lineage truncation as [[BpeTrain]].
  */
object ByteBpe {

  /** The published GPT-2 pretokenizer: contractions, optional-space
    * letter runs, optional-space digit runs, optional-space punctuation
    * runs, then whitespace (trailing-whitespace lookahead keeps the
    * final space attached to the NEXT pretoken when one follows). (?U)
    * makes Java's \s/\p classes Unicode-complete like the reference
    * Python `regex` behavior. */
  private[graft] val PretokenRe: String =
    "(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"

  /** byte value → its mapped single-codepoint string (the published
    * bytes_to_unicode table). */
  private[graft] val byteChar: Array[String] = {
    val printable = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    val out = new Array[String](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (printable(b)) out(b) = Character.toString(b)
      else { out(b) = Character.toString(256 + n); n += 1 }
      b += 1
    }
    out
  }

  /** mapped codepoint → byte value (the inverse bijection). */
  private[graft] val charByte: Map[Int, Int] =
    byteChar.zipWithIndex.map { case (s, b) => s.codePointAt(0) -> b }.toMap

  /** One pretoken → its base symbol sequence: one mapped char per UTF-8
    * byte. */
  private[graft] def toByteSymbols(w: String): Seq[String] =
    w.getBytes(java.nio.charset.StandardCharsets.UTF_8).toSeq
      .map(b => byteChar(b & 0xff))

  /** Exact inverse of encoding: symbols → mapped chars → bytes → UTF-8
    * text. Total on any symbol sequence built from the base alphabet. */
  private[graft] def decode(toks: Seq[String]): String = {
    val bytes = toks.flatMap(t =>
      t.codePoints().toArray.toSeq.map(cp => charByte(cp).toByte))
    new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The pretoken stream of a text column (array<string>), via the
    * published regex — native regexp_extract_all, no UDF. */
  def pretokens(text: Column): Column =
    regexp_extract_all(text.cast("string"), lit(PretokenRe), lit(0))

  /** Learn `rounds` byte-level merges from `docs(textCol)`.
    *
    * @param localFinishMaxRows the serial-endgame cutover (the Scc/Bfs
    *        doctrine): when the distinct-pretoken histogram's rows +
    *        total symbols fit this budget, it is collected ONCE and the
    *        merge loop runs driver-side in [[LocalSubword]] (incremental
    *        pair counts, occurrence-indexed rewrites) — killing the
    *        one-Spark-job-per-merge scheduling wall at production vocab
    *        sizes (32k–100k merges ≈ 10⁵ sequential jobs); above budget
    *        the distributed per-round loop remains the default. Bit-
    *        identical paths (`SubwordEndgameSpec` forces budget=0 and
    *        compares).
    * @return (round, left, right, pair_count) — one row per merge in
    *         training order, pair_count frequency-weighted; stops early
    *         when no pair reaches weighted count 2
    */
  def train(docs: DataFrame, textCol: String, rounds: Int,
      localFinishMaxRows: Long = Scc.LocalFinishMaxRows): DataFrame = Lineage.scope { s =>
    require(rounds >= 1 && rounds <= 10000, s"rounds=$rounds out of range")
    val spark = docs.sparkSession
    import spark.implicits._

    // corpus-scale once: pretoken frequencies (ONE map-side-combined
    // shuffle); everything after is vocab-scale
    val freqs = docs.select(explode(pretokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // budget probe (one pass, also materializes the cache): rows + total
    // symbols — the driver holds symbol ARRAYS, so rows alone undercount
    val (h0, st) = s.pinBy(freqs.as[(String, Long)]
      .map { case (w, f) => (toByteSymbols(w), f) }
      .toDF("toks", "freq"))(
      _.agg(count(lit(1)), coalesce(sum(size(col("toks"))), lit(0L))).collect()(0))
    val (hRows, hSyms) = (st.getLong(0), st.getLong(1))
    if (hRows + hSyms <= localFinishMaxRows) {
      // --- LOCAL ENDGAME: collect the vocab-scale histogram once and
      // finish in LocalSubword (see scaladoc above / the Scc doctrine)
      val rows = h0.frame.select(col("toks"), col("freq")).collect()
      h0.release()
      Console.err.println(
        s"[bytebpe] local-endgame rows=$hRows symbols=$hSyms rounds<=$rounds")
      val toks = rows.map(_.getSeq[String](0).toArray)
      val ws = rows.map(_.getLong(1))
      LocalSubword.bpeLocal(toks, ws, rounds)
        .toDF("round", "left", "right", "pair_count")
        .withColumn("round", col("round").cast("long"))
    } else {
      var cur = h0
      val merges = ListBuffer.empty[(Int, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= rounds && !exhausted) {
        val pairs = cur.view.select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("cnt"))
        val top = pairs
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
          .limit(1).collect()
        if (top.isEmpty || top(0).getLong(2) < 2) {
          exhausted = true // no pair reaches weighted count 2
        } else {
          val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((round, l, r, cnt))
          val next = s.pin(cur.view
            .select(BpeMergePass(col("toks"), l, r).as("toks"), col("freq")))
          cur.release()
          cur = next
          round += 1
        }
      }
      merges.toSeq.toDF("round", "left", "right", "pair_count")
        .withColumn("round", col("round").cast("long"))
    }
  }

  /** Corpus-scale byte-level encoding: pretokenize, seed each DISTINCT
    * pretoken to its byte symbols and apply the merge table once
    * (vocab-scale — the BpeEncode/WordPiece Zipf memoization), join
    * back and reassemble in document order. No unk parameter exists:
    * every byte is in the base alphabet, so encoding is total. Case is
    * preserved (byte-level tokenizers do not lowercase).
    *
    * SPECIAL TOKENS (`specials` — the published GPT-2/tiktoken
    * `allowed_special` behavior, e.g. the `<|endoftext|>` document
    * separator a sequence packer's boundary semantics need): the text
    * first splits ON the reserved strings (longest-first, so an
    * overlapping pair like `<|end|>`/`<|endoftext|>` resolves to the
    * longer literal), each occurrence passes through UNSPLIT as one
    * atomic token — the pretokenizer never sees it, merges never touch
    * it (a 1-element symbol array has no adjacent pair), and
    * [[decode]] inverts it transparently because ASCII specials map
    * through the printable-identity rows of the byte table. Plumbing:
    * occurrences are fenced with a NUL (\\u0000) sentinel (regexp_replace
    * — NUL cannot appear in the alphabet or in text that survives any
    * sane ingest; split on it yields segments that are either a
    * reserved literal or plain text), then the per-segment pretoken
    * explode nests under the segment position so document order is
    * (segment, pretoken) — all native expressions, no UDF.
    *
    * @return (idCol, toks array<string>, n_tokens); empty-text rows
    *         keep an empty array
    */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)],
      specials: Seq[String] = Seq.empty): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // printable-ASCII-only is LOAD-BEARING, not stylistic: decode maps a
    // special's codepoints through the byte table's printable-identity
    // rows — a space (cp 32, remapped) would throw on decode, and a
    // Latin-1 char (cp 233 IS a table key) would silently decode to a
    // lone invalid-UTF-8 byte (mojibake). Published reserved tokens
    // (<|endoftext|> et al.) are exactly this class.
    require(specials.forall(s =>
        s.nonEmpty && s.forall(c => c >= 33 && c <= 126)),
      "special tokens must be non-empty printable ASCII (33..126) — " +
        "other characters break decode through the byte table")
    val words =
      if (specials.isEmpty)
        docs.select(col(idCol).as("id"), lit(0).as("spos"),
            posexplode(pretokens(col(textCol))).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
      else {
        val sentinel = "\u0000"
        // ONE alternation pass, longest literal first: Java alternation
        // is ordered, so at any position the longest reserved string
        // wins, and a single pass can never re-match inside an already
        // fenced occurrence (a sequential per-special fold could — a
        // shorter special that is a substring of a longer one would
        // corrupt the longer's fence)
        val alternation = specials.sortBy(-_.length)
          .map(java.util.regex.Pattern.quote).mkString("(", "|", ")")
        // the fence must be LOUD on collision: a raw NUL already in the
        // text would act as a fence separator and its byte would vanish
        // from the token stream — silently breaking the no-unk totality
        // contract (decode∘encode = id). The no-specials path keeps NUL
        // (it rides a pretoken into the byte alphabet; t90 pins that).
        val safeText = when(contains(col(textCol).cast("string"), lit(sentinel)),
            raise_error(lit("text contains NUL (\u0000), which the " +
              "special-token fence reserves — scrub NUL bytes before " +
              "encoding with specials, or encode without specials")))
          .otherwise(col(textCol).cast("string"))
        val fenced = regexp_replace(safeText,
          lit(alternation), lit(sentinel + "$1" + sentinel))
        val specialSet = typedLit(specials)
        docs.select(col(idCol).as("id"),
            posexplode(split(fenced, sentinel)).as(Seq("spos", "seg")))
          .filter(col("seg") =!= "")
          .select(col("id"), col("spos"),
            posexplode(when(array_contains(specialSet, col("seg")),
                array(col("seg")))
              .otherwise(pretokens(col("seg")))).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
      }
    val specialSeeds = specials.toSet
    val seeded = words.select(col("w")).distinct().as[String]
      .map(w => (w, if (specialSeeds(w)) Seq(w) else toByteSymbols(w),
        specialSeeds(w)))
      .toDF("w", "seed", "is_special")
    val vocab =
      if (merges.isEmpty) seeded.select(col("w"), col("seed").as("subtoks"))
      else seeded.select(col("w"),
        when(col("is_special"), col("seed"))
          .otherwise(BpeApply(col("seed"), merges)).as("subtoks"))
    val assembled = words.join(vocab, "w")
      .groupBy(col("id"))
      .agg(flatten(array_sort(
        collect_list(struct(col("spos"), col("pos"), col("subtoks"))))
        .getField("subtoks")).as("toks"))
    docs.select(col(idCol).as("id"))
      .join(assembled, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("toks"), array().cast("array<string>")).as("toks"),
        coalesce(size(col("toks")), lit(0)).cast("long").as("n_tokens"))
  }
}
