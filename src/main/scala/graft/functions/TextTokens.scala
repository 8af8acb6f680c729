package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Tokenization / shingling building blocks for the dedup + text-analysis
  * operators. All pure Catalyst expressions (higher-order functions over
  * arrays) — no UDFs, so they stay in codegen and scale linearly per row
  * with zero shuffle.
  */
object TextTokens {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  /** ALL word n-gram shingles in document order, duplicates kept ("a b c",
    * "b c d", ...) — the raw stream [[wordShingles]] deduplicates.
    * Empty array when the document has fewer than n tokens (guarded:
    * Spark's `sequence(1, stop)` DESCENDS when stop < 1, so the short-doc
    * case must not reach it).
    *
    * `toks` MUST be a materialized column (project `tokens(text)` under a
    * name first), NOT the `tokens(text)` tree inline: higher-order
    * functions are interpreted (CodegenFallback), so an inline split would
    * re-execute inside the lambda at EVERY shingle position — O(tokens²)
    * regex work per document (measured 10× on the sf0.1 shingle stage). */
  def wordShinglesAllFromTokens(toks: Column, n: Int): Column = {
    val count = size(toks) - (n - 1)
    when(count > 0,
      transform(sequence(lit(1), count), i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Inline-text convenience for SMALL frames and tests — embeds the
    * tokenizer in the shingle lambda (quadratic per doc; see
    * [[wordShinglesAllFromTokens]]). Scale callers project tokens first. */
  def wordShinglesAll(text: Column, n: Int): Column =
    wordShinglesAllFromTokens(tokens(text), n)

  /** Distinct word n-gram shingles (inline-text convenience; see
    * [[wordShinglesAll]] for the scale caveat). */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordShinglesAll(text, n))

  /** 64-bit hashes of each distinct shingle (xxhash64, fixed seed) — the
    * base hash family for MinHash/SimHash. */
  def hashedShingles(text: Column, n: Int): Column =
    transform(wordShingles(text, n), s => xxhash64(s))

  /** Count of tokens in `toks` that appear in the (small, literal) set. */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words: _*)))
}
