package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language ID
  * (marker-word heuristic), quality scoring, token counting, and document
  * fingerprinting. All closed-form Catalyst expressions.
  */
object TextAnalysis {

  /** English stopword/marker set — THE single source for every gate that
    * must stay in lock-step (t2's quality ratios, d9's corpus-clean gate,
    * the language-ID "en" markers). Referencing this constant everywhere is
    * what keeps the gates from drifting apart on an edit. */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** Marker words per language, checked against lowercased tokens. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> enStopwords,
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** Per-language marker counts as named columns (lang → count). */
  def markerCounts(toks: Column): Seq[(String, Column)] =
    markers.map { case (lang, ws) => lang -> TextTokens.countIn(toks, ws) }

  /** Predicted language: argmax of marker counts with a fixed priority
    * order (en > es > de > fr) on ties; no markers at all → "und".
    *
    * Shaped as ONE `aggregate` fold over one tokenization: a naive
    * when-chain over per-language `size(filter(tokens(...)))` counts
    * re-evaluates the regexp split once per count REFERENCE (the nested
    * argmax references earlier counts again at each step — ~15 full splits
    * per row, measured 8× slower). Here the counts accumulate in a struct
    * in a single token pass, and the argmax in the finish lambda reads
    * fields of the BOUND accumulator value, which costs field accesses,
    * not re-evaluations. */
  def languageId(text: Column): Column =
    languageIdFromTokens(TextTokens.tokens(text))

  /** [[languageId]] over a caller-supplied token array (pair it with a
    * shared lower-projection alias when other metrics tokenize too). */
  def languageIdFromTokens(toks: Column): Column = {
    val langs = markers.map(_._1)
    aggregate(
      toks,
      struct(markers.map { case (lang, _) => lit(0).as(lang) }: _*),
      (acc, t) => struct(markers.map { case (lang, ws) =>
        (acc.getField(lang) + when(t.isin(ws: _*), 1).otherwise(0)).as(lang)
      }: _*),
      acc => {
        val cs = langs.map(acc.getField)
        val total = cs.reduce(_ + _)
        val max = greatest(cs: _*)
        val argmax = langs.zip(cs).init.foldRight(lit(langs.last)) {
          case ((lang, c), rest) => when(c === max, lit(lang)).otherwise(rest)
        }
        when(total === 0, lit("und")).otherwise(argmax)
      })
  }

  /** Paragraph-level language segmentation — the mC4/CCNet treatment of
    * MIXED-language pages (web documents routinely interleave languages;
    * doc-level lang-id mislabels every minority paragraph): split on
    * blank lines, language-ID each paragraph independently, report the
    * majority language (paragraph count; ties break to the
    * lexicographically smallest language — a total, oracle-expressible
    * rule), and reassemble ONLY the majority-language paragraphs in
    * original order. One explode + two doc-keyed aggregates; lang-id
    * itself rides the scan.
    *
    * @return (idCol, n_paras, majority_lang, n_majority_paras,
    *         kept_text) — empty docs keep an empty report row
    */
  def paragraphLanguageReport(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n\n")).as(Seq("__p", "__para")))
      .filter(trim(col("__para")) =!= "")
      .withColumn("__lang", languageId(col("__para")))
    val counts = paras.groupBy(col(idCol), col("__lang"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__c").desc, col("__lang").asc)
    val major = counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol).as("__mid"), col("__lang").as("majority_lang"),
        col("__c").as("n_majority_paras"))
    // every frame below descends from `docs`; distinct key names keep the
    // joins unambiguous (the Spark self-join analyzer trap)
    val kept = paras.join(major,
        paras(idCol) === col("__mid") && col("__lang") === col("majority_lang"))
      .groupBy(col("__mid").as("__kid"))
      .agg(array_join(array_sort(collect_list(struct(col("__p"), col("__para"))))
        .getField("__para"), "\n\n").as("kept_text"))
    val np = paras.groupBy(col(idCol).as("__nid")).agg(count(lit(1)).as("n_paras"))
    docs.select(col(idCol))
      .join(np, col(idCol) === col("__nid"), "left")
      .join(major, col(idCol) === col("__mid"), "left")
      .join(kept, col(idCol) === col("__kid"), "left")
      .select(col(idCol), coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        col("majority_lang"),
        coalesce(col("n_majority_paras"), lit(0L)).as("n_majority_paras"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(TextTokens.tokens(text))

  /** BPE-ish regex token count: letter runs, digit runs, punctuation singles. */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Quality metrics: lengths, avg token length, punctuation ratio,
    * stopword ratio, and a boolean keep/drop flag — the standard
    * heuristics-pipeline shape. Ratios are rounded so they hash
    * identically across engines. `toks` is the caller's token array: when
    * it is an alias from a lower projection (referenced here 6+ times,
    * non-cheap, so CollapseProject keeps it a real column), the
    * tokenization runs once per row instead of once per metric. */
  def qualityColumnsFromTokens(
      text: Column, toks: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val nChars = length(text)
    val nTokens = size(toks)
    val nonSpace = length(regexp_replace(text, "\\s", ""))
    val punct = length(regexp_replace(lower(text), "[a-z0-9\\s]", ""))
    val stop = TextTokens.countIn(toks, stopwords)
    val avgTokLen = round(nonSpace.cast("double") / nTokens, 4)
    val punctRatio = round(punct.cast("double") / nChars, 6)
    val stopRatio = round(stop.cast("double") / nTokens, 6)
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "avg_token_len" -> avgTokLen,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      // Three token-array references (two size() + the stop ratio) — cheaper
      // than a per-token fold here (measured: a struct-accumulator fold
      // allocates per token and lost to the extra splits).
      "quality_ok" -> (nTokens >= 10 && nTokens <= 100000 && stopRatio >= lit(0.01)))
  }

  /** Canonical-text fingerprint: md5 of lower/trim/whitespace-collapsed text
    * — the exact-dedup key. */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Order-insensitive content fingerprint: md5 over the sorted distinct
    * token set — merges bag-of-words-identical docs (reordered near-dups). */
  def fingerprintTokenSet(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(TextTokens.tokens(text)))))

  /** Unicode-confusable map (UTS #39 skeleton flavor, the high-traffic
    * Cyrillic subset): homoglyphs that render identically to Latin and
    * defeat every byte-level fingerprint above — the spam/spoof dedup
    * gap. Positionally aligned from→to; single-codepoint translate, so
    * the same table drives Spark's `translate` and DuckDB's. */
  val confusablesFrom = "аеорсухіѕјАВЕКМНОРСТХУІЅЈ"
  val confusablesTo = "aeopcyxisjABEKMHOPCTXYISJ"

  /** Confusable skeleton: trim → fold homoglyphs to Latin → lowercase.
    * Spoofed variants of one string share a skeleton, so skeleton
    * equality is the spoof-resistant exact-dedup key (group or
    * fingerprint it like [[fingerprintMd5]]). */
  def confusableSkeleton(text: Column): Column =
    lower(translate(trim(text), confusablesFrom, confusablesTo))

  /** Rolling polynomial hash (mod 1e9+7) over the characters of the
    * canonical text — overflow-free in 64-bit, so the same value is
    * computable in any engine with a left fold.
    *
    * Non-ASCII characters are normalized to '?' BEFORE hashing: engines
    * disagree on `ascii()` for multibyte text (Spark returns the first
    * UTF-8 byte, DuckDB the Unicode codepoint), so cross-engine equality
    * only holds on an ASCII-normalized stream — the oracle SQL applies
    * the identical replacement. */
  def rollingHash(text: Column): Column = {
    val canon = regexp_replace(
      regexp_replace(lower(trim(text)), "\\s+", " "), "[^\\x00-\\x7F]", "?")
    // Native one-pass fold (expr.PolynomialHash). The HOF formulation —
    // transform(sequence(1, length), i => ascii(substr(i, 1))) reduced by
    // aggregate — re-runs its interpreted lambda per CHARACTER with an
    // O(position) substr: O(len²)/doc, 16 s of the sf0.1 verify pass.
    // Identical values (TextAnalysisSpec pins native == HOF): canon is
    // ASCII-folded, where the byte loop equals the code-point loop.
    graft.functions.expr.PolynomialHash(canon)
  }
}
