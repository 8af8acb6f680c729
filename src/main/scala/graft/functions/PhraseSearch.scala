package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact phrase search — the positional-retrieval primitive beside
  * BM25's bag-of-words scoring (d46): find every occurrence of an
  * n-word phrase, OVERLAPPING occurrences included (the standard
  * positional-index semantics: "a a a" holds "a a" twice).
  *
  * [[occurrences]] is the SCAN plan (grep flavor): a higher-order
  * filter over each doc's token array checking slice equality at every
  * start. Pure Catalyst, ZERO shuffle, zero UDFs; the right plan when
  * the corpus is scanned anyway or phrases change per run.
  *
  * It tokenizes with [[TextTokens.tokens]] (the corpus-wide contract),
  * emits 1-based start positions in ascending order, and keeps zero-hit
  * docs (n_occurrences 0, empty array) — absence is part of the report.
  */
object PhraseSearch {

  private def phraseArray(phrase: Seq[String]): Column =
    array(phrase.map(lit): _*)

  /** Scan path: (idCol, starts array<bigint> 1-based, n_occurrences,
    * contains). */
  def occurrences(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val k = phrase.length
    val ts = TextTokens.tokens(col(textCol))
    val starts = when(size(ts) >= k,
      filter(
        sequence(lit(1L), (size(ts) - (k - 1)).cast("long")),
        i => slice(ts, i.cast("int"), lit(k)) === phraseArray(phrase)))
      .otherwise(array().cast("array<bigint>"))
    docs.select(col(idCol), starts.as("starts"))
      .withColumn("n_occurrences", size(col("starts")).cast("long"))
      .withColumn("contains", col("n_occurrences") > 0)
  }
}
