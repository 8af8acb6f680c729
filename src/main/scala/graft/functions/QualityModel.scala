package graft.functions

import graft.functions.expr.PolynomialHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — fastText-style LINEAR classifier
  * INFERENCE over hashed word n-gram features (Joulin et al. 2016, the
  * public method behind the CCNet/FineWeb-class quality filters): each
  * document's unigrams + bigrams hash into `buckets` feature slots, the
  * model is one weight per slot (+ bias), and the decision is a
  * threshold on the mean feature weight. This is the curation stage the
  * heuristic t2 scores approximate — lang-id → quality MODEL → dedup →
  * decontamination is the published pipeline order.
  *
  * Determinism contract (the t57 gate hash-compares everything):
  *  - tokens come from the rollingHash CANON (lower, trim, non-ASCII →
  *    '?', whitespace split) so the byte-loop [[PolynomialHash]] equals
  *    the oracle's code-point fold;
  *  - feature slot = polynomial hash mod `buckets` — REPLICATED in the
  *    DuckDB oracle (the t4 list_reduce form); lexicon collisions merge
  *    by SUM in [[weightTable]], identically on both sides;
  *  - weights, bias, threshold are 1e-6 FIXED-POINT BIGINTs and the
  *    decision avoids division entirely: keep ⇔ bias·n + Σw ≥ θ·n —
  *    exact integer comparison, no IEEE boundary cliff (and no
  *    trunc-vs-floor divergence on negative sums).
  *
  * Scale shape: one narrow scan projection (canon + grams ride the
  * scan), one explode bounded by 2·tokens−1 per doc, ONE broadcast join
  * against the bucket table (model-sized — fastText ships ~2M buckets,
  * a few MB of longs), one doc-keyed aggregate. No shuffle beyond the
  * doc-keyed combine; at 100 TB the scorer is scan-bound.
  */
object QualityModel {

  /** ASCII-folded canonical token array (the [[PolynomialHash]] input
    * contract; empty tokens dropped so grams are never ""). */
  def canonTokens(text: Column): Column =
    filter(
      split(regexp_replace(lower(trim(text)), "[^\\x00-\\x7F]", "?"), "\\s+"),
      t => t =!= "")

  /** Hashed feature slots for one doc: unigram + bigram buckets,
    * duplicates kept (term frequency IS the feature value). */
  def gramBuckets(toks: Column, buckets: Long): Column = {
    require(buckets >= 1L, s"buckets must be >= 1, got $buckets")
    val uni = transform(toks, t => PolynomialHash(t) % buckets)
    val bi = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => PolynomialHash(concat(a, lit(" "), b)) % buckets))
      .otherwise(array().cast("array<bigint>"))
    concat(uni, bi)
  }

  /** Bucket-keyed weight table from a (gram, w_fp) lexicon — hash
    * collisions between lexicon entries merge by SUM (deterministic;
    * the oracle replays the same merge). */
  def weightTable(lexicon: DataFrame, buckets: Long): DataFrame =
    lexicon
      .select((PolynomialHash(col("gram")) % buckets).as("bucket"),
        col("w_fp").cast("long").as("w_fp"))
      .groupBy(col("bucket")).agg(sum(col("w_fp")).as("w_fp"))

  /** Score every doc: (idCol, n_grams, sum_w_fp, score_num_fp, keep)
    * with score_num_fp = biasFp·n_grams + Σ w_fp and
    * keep ⇔ score_num_fp ≥ thresholdFp·n_grams (mean-form threshold
    * cleared of its denominator). Docs with zero grams keep
    * score_num_fp = 0 (kept iff 0 ≥ 0 — route empties upstream). */
  def score(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Long,
      biasFp: Long, thresholdFp: Long): DataFrame = {
    val toks = docs.select(col(idCol), canonTokens(col(textCol)).as("__toks"))
    val grams = toks.select(col(idCol),
      explode(gramBuckets(col("__toks"), buckets)).as("bucket"))
    val s = grams.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("w_fp"), lit(0L))).as("sum_w_fp"))
    docs.select(col(idCol)).join(s, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_w_fp"), lit(0L)).as("sum_w_fp"))
      .withColumn("score_num_fp", lit(biasFp) * col("n_grams") + col("sum_w_fp"))
      .withColumn("keep", col("score_num_fp") >= lit(thresholdFp) * col("n_grams"))
  }

  // ---- the t57/q11 fixture model (shared so the two gates can't drift) ----

  /** The gate lexicon: engine-vocabulary quality markers with 1e-6
    * fixed-point weights, including one BIGRAM ("batch batch" — the
    * repetition smell) so the bigram feature path is load-bearing. */
  val gateLexicon: Seq[(String, Long)] = Seq(
    "fast" -> 300000L, "big" -> 200000L, "spark" -> 150000L,
    "vector" -> 150000L, "slow" -> -400000L, "dup" -> -500000L,
    "small" -> -200000L, "batch batch" -> -600000L)

  val gateBuckets: Long = 4096L
  val gateBiasFp: Long = 5000L
  val gateThresholdFp: Long = 0L

  def gateWeights(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    weightTable(gateLexicon.toDF("gram", "w_fp"), gateBuckets)
  }

  /** DuckDB replay of the full scorer as CTE definitions (no leading
    * WITH, no trailing comma): `qm_t` canon-tokenizes `srcCte` (needs
    * doc_id + text), `outCte` carries (doc_id, n_grams, sum_w_fp,
    * score_num_fp) for EVERY src doc; keep ⇔ score_num_fp ≥ θ·n_grams.
    * The polynomial hash is the t4 list_reduce form — identical to
    * [[PolynomialHash]] on the ASCII canon. */
  def oracleCtes(srcCte: String, outCte: String): String = {
    val values = gateLexicon
      .map { case (g, w) => s"('$g', $w)" }.mkString(", ")
    def h(col: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(range(length($col)), i -> CAST(ascii($col[i+1]) AS BIGINT))), " +
        s"(acc, x) -> (acc * 31 + x) % 1000000007)"
    s"""qm_lex AS (SELECT * FROM (VALUES $values) lx(gram, w)),
       |qm_wt AS (SELECT hg % $gateBuckets AS bucket, CAST(SUM(w) AS BIGINT) AS w_fp
       |          FROM (SELECT ${h("gram")} AS hg, w FROM qm_lex) GROUP BY 1),
       |qm_t AS (SELECT doc_id,
       |           list_filter(string_split_regex(regexp_replace(lower(trim(text)), '[^\\x00-\\x7F]', '?', 'g'), '\\s+'), x -> x <> '') AS cts
       |         FROM $srcCte),
       |qm_g AS (SELECT doc_id, unnest(cts ||
       |           CASE WHEN len(cts) >= 2
       |                THEN list_transform(range(len(cts) - 1), i -> cts[i+1] || ' ' || cts[i+2])
       |                ELSE [] END) AS gram FROM qm_t),
       |qm_s AS (SELECT g.doc_id, COUNT(*) AS n_grams,
       |           CAST(SUM(COALESCE(w.w_fp, 0)) AS BIGINT) AS sum_w
       |         FROM (SELECT doc_id, ${h("gram")} % $gateBuckets AS hb FROM qm_g) g
       |         LEFT JOIN qm_wt w ON w.bucket = g.hb GROUP BY 1),
       |$outCte AS (SELECT t.doc_id,
       |             CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
       |             CAST(COALESCE(s.sum_w, 0) AS BIGINT) AS sum_w_fp,
       |             CAST($gateBiasFp * COALESCE(s.n_grams, 0) + COALESCE(s.sum_w, 0) AS BIGINT) AS score_num_fp
       |           FROM qm_t t LEFT JOIN qm_s s USING (doc_id))""".stripMargin
  }
}
