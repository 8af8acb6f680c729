package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval — the term-statistics complement to
  * [[Similarity]]'s embedding ANN (hard-negative mining and
  * more-like-this dedup triage both want BOTH signals: embeddings catch
  * paraphrase, BM25 catches exact-vocabulary overlap the encoder
  * normalizes away).
  *
  * Distributed shape: classic inverted-index retrieval as three
  * term-keyed hash aggregates and one term-keyed join — per-doc term
  * frequencies (shuffle 1), document frequencies as a rollup of the tf
  * agg (vocab-scale, no second corpus scan — the t11 pattern), query
  * terms joined against the tf index on the term key (shuffle 2), and a
  * per-query top-k window (shuffle 3, partitioned by query — never
  * global). Corpus scalars (N, avgdl) ride along as a 1-row broadcast.
  * Candidate volume is Σ_t qf(t)·df(t): bounded by `maxDf`, which drops
  * stop-terms from CANDIDATE GENERATION exactly like the shingle
  * index's `maxDf` stop-shingle cap (d4/d34) — at web scale "the"
  * would otherwise fan every query out to the whole corpus for terms
  * whose BM25 weight is near zero anyway.
  *
  * Determinism: per-term weights are rounded to 1e-6 fixed point and
  * summed as BIGINT micro-units — integer addition commutes, so the
  * score hash cannot drift with partitioning or aggregation order (the
  * established oracle-safe-sum pattern); ties rank by doc id.
  */
object Bm25 {

  /** BM25 top-k per query.
    *
    * @param docs     corpus frame
    * @param queries  query frame (may be the corpus itself for
    *                 more-like-this; see `excludeSelf`)
    * @param k        results per query
    * @param k1       term-frequency saturation (BM25 default 1.2)
    * @param b        length normalization (BM25 default 0.75)
    * @param maxDf    drop terms with document frequency above this from
    *                 candidate generation (stop-term cap; default: off)
    * @param excludeSelf drop pairs where the query id equals the doc id
    *                 (set when `queries` shares `docs`' id space)
    * @return (q_id, doc_id, score_fp6, rk) — `score_fp6` is the BM25
    *         score in exact 1e-6 fixed-point micro-units (BIGINT)
    */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = Long.MaxValue, excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(k1 > 0 && b >= 0 && b <= 1, s"k1=$k1 b=$b out of range")

    val toks = docs.select(col(idCol).as("doc_id"),
      TextTokens.tokens(col(textCol)).as("ts"))
    val e = toks.select(col("doc_id"), size(col("ts")).as("dl"),
        explode(col("ts")).as("term"))
      .filter(col("term") =!= "")
    // tf feeds BOTH the retrieval index join and the df rollup — without
    // a persist Spark re-executes the whole explode+agg subtree per
    // consumer (the q9 multi-reference trap; bounded registry per the
    // cache contract)
    val tf = graft.engine.BoundedCaches.persist(
      e.groupBy(col("doc_id"), col("term"), col("dl"))
        .agg(count(lit(1)).as("cnt")))
    // df and the corpus scalars are rollups of frames already built —
    // the token stream is exploded exactly once
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val stats = toks.agg(count(lit(1)).as("n"),
      sum(size(col("ts"))).as("sum_dl"))

    val qTerms = queries
      .select(col(qIdCol).as("q_id"), explode_outer(
        array_distinct(TextTokens.tokens(col(qTextCol)))).as("term"))
      .filter(col("term") =!= "")

    val avgdl = col("sum_dl").cast("double") / col("n").cast("double")
    // identical literal/operator shape on both engines: ln(1 + (n - df +
    // 0.5)/(df + 0.5)) · (cnt·(k1+1))/(cnt + k1·(1 − b + b·dl/avgdl)),
    // rounded to exact micro-units per term before the sum
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = (col("cnt") * lit(k1 + 1.0)) /
      (col("cnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    val cand = qTerms
      .join(tf.withColumnRenamed("doc_id", "d_id"), "term")
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
    val scored = (if (excludeSelf) cand.filter(col("q_id") =!= col("d_id")) else cand)
      .select(col("q_id"), col("d_id"),
        round(idf * norm * lit(1000000.0)).cast("long").as("w"))
      .groupBy(col("q_id"), col("d_id"))
      .agg(sum(col("w")).as("score_fp6"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_fp6").desc, col("d_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("d_id").as("doc_id"), col("score_fp6"), col("rk"))
  }
}
