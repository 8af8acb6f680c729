package graft.queries

import graft.functions.{TextAnalysis, TextTokens}
import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: language ID, quality scoring,
  * token counting, fingerprinting — the curation half of a training-data
  * pipeline. Everything is a closed-form expression, so each query is one
  * parquet scan, no shuffle (except noted).
  */
object TextQueries {

  private val enStop = TextAnalysis.enStopwords

  /** Absolute path of the Public Suffix List resource, resolved from the
    * CLASSPATH at oracle-build time — the same bytes the table-driven
    * `RegisteredDomain` expression loads — so the t50/t55 DuckDB oracles
    * and the engine can never read two different files (a hard-coded repo
    * path silently diverges the moment the checkout moves). */
  private lazy val pslPath: String = {
    val url = getClass.getClassLoader.getResource("public_suffix_list.dat")
    require(url != null, "public_suffix_list.dat missing from the classpath")
    if (url.getProtocol == "file")
      java.nio.file.Paths.get(url.toURI).toAbsolutePath.toString
    else {
      // packaged (jar:) classpath — spill the SAME bytes to a
      // content-addressed file DuckDB can read_text. The name carries the
      // content hash (a new PSL snapshot gets a new file, no staleness)
      // and the file must OUTLIVE this JVM: the driver executes the
      // dumped oracle SQL in a separate DuckDB process afterwards.
      val in = url.openStream()
      val bytes = try in.readAllBytes() finally in.close()
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).take(8).map(b => f"$b%02x").mkString
      val dest = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), s"graft-psl-$sha.dat")
      if (!java.nio.file.Files.exists(dest)) {
        val tmp = java.nio.file.Files.createTempFile("graft-psl", ".tmp")
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.move(tmp, dest,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      dest.toAbsolutePath.toString
    }
  }

  /** The modified-KN discount-estimation SQL block, parameterized per
    * order (shared by the t91 and t95 oracles — ONE copy of the exact
    * HUGEINT cross-products, half-up thousandths, empty-bucket 0 pin,
    * open-bucket o3→o2→o1 fallback, and the [1,999]/[1,1000·i] clamps,
    * mirroring [[graft.functions.NgramLm.modifiedDiscounts]] op for op):
    * count-of-counts CTE `cc` over (`src`.`cnt`), discounts (o1,o2,o3). */
  private def mknDiscSql(cc: String, src: String, cnt: String,
      pre: String, o1: String, o2: String, o3: String): String =
    s"""$cc AS (SELECT CAST(SUM(CASE WHEN $cnt = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
       |              CAST(SUM(CASE WHEN $cnt = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
       |              CAST(SUM(CASE WHEN $cnt = 3 THEN 1 ELSE 0 END) AS HUGEINT) AS n3,
       |              CAST(SUM(CASE WHEN $cnt = 4 THEN 1 ELSE 0 END) AS HUGEINT) AS n4,
       |              CAST(SUM(CASE WHEN $cnt >= 3 THEN 1 ELSE 0 END) AS HUGEINT) AS n3p
       |       FROM $src),
       |${pre}0 AS (SELECT n1, n2, n3, n4, n3p,
       |    CAST(GREATEST(1, LEAST(999, (2000 * n1 + (n1 + 2 * n2)) // (2 * (n1 + 2 * n2)))) AS BIGINT) AS $o1,
       |    CAST(CASE WHEN n2 = 0 THEN 0
       |         WHEN 2 * (n1 + 2 * n2) * n2 - 3 * n1 * n3 <= 0 THEN 1
       |         ELSE GREATEST(1, LEAST(2000, (2000 * (2 * (n1 + 2 * n2) * n2 - 3 * n1 * n3) + (n1 + 2 * n2) * n2)
       |                          // (2 * (n1 + 2 * n2) * n2))) END AS BIGINT) AS $o2
       |  FROM $cc),
       |$pre AS (SELECT $o1, $o2,
       |    CAST(CASE WHEN n3p = 0 THEN 0
       |         WHEN n3 = 0 THEN (CASE WHEN n2 > 0 THEN $o2 ELSE $o1 END)
       |         WHEN 3 * (n1 + 2 * n2) * n3 - 4 * n1 * n4 <= 0 THEN 1
       |         ELSE GREATEST(1, LEAST(3000, (2000 * (3 * (n1 + 2 * n2) * n3 - 4 * n1 * n4) + (n1 + 2 * n2) * n3)
       |                          // (2 * (n1 + 2 * n2) * n3))) END AS BIGINT) AS $o3
       |  FROM ${pre}0)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Language ID: marker-word argmax with fixed tie priority.
    QueryDef.sql(
      "t1_language_id",
      """WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |c AS (SELECT doc_id, lang,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS en,
        |  len(list_filter(ts, x -> x IN ('el','la','de','y','es'))) AS es,
        |  len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(ts, x -> x IN ('le','la','de','et','est'))) AS fr
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE WHEN en + es + de + fr = 0 THEN 'und'
        |       WHEN fr > en AND fr > es AND fr > de THEN 'fr'
        |       WHEN de > en AND de > es THEN 'de'
        |       WHEN es > en THEN 'es'
        |       ELSE 'en' END AS predicted_lang,
        |  CAST(en AS INT) AS en_markers, CAST(es AS INT) AS es_markers,
        |  CAST(de AS INT) AS de_markers, CAST(fr AS INT) AS fr_markers
        |FROM c""".stripMargin) { (spark, dir) =>
      // Shared-token projection: predicted_lang + 4 marker counts all read
      // the one __toks column instead of re-tokenizing per output.
      val counts = TextAnalysis.markerCounts(col("__toks"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          graft.functions.TextTokens.tokens(col("text")).as("__toks"))
        .select(
          Seq(
            col("doc_id"),
            col("lang").as("labeled_lang"),
            TextAnalysis.languageIdFromTokens(col("__toks")).as("predicted_lang")) ++
            counts.map { case (lang, c) => c.as(s"${lang}_markers") }: _*)
    },

    // Quality scoring: length/punctuation/stopword heuristics + keep flag.
    QueryDef.sql(
      "t2_quality_score",
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS n_chars,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS n_tokens,
        |  round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\s+')), 4) AS avg_token_len,
        |  round(CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\s+')), 6) AS stopword_ratio,
        |  (len(string_split_regex(lower(trim(text)), '\s+')) BETWEEN 10 AND 100000)
        |    AND round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\s+')), 6) >= 0.01 AS quality_ok
        |FROM documents""".stripMargin) { (spark, dir) =>
      // Two-level select: __toks is referenced by every metric, so the
      // regexp tokenization runs once per row (CollapseProject keeps the
      // multi-referenced non-cheap alias as a real column).
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.TextTokens.tokens(col("text")).as("__toks"))
        .select(
          col("doc_id") +:
            TextAnalysis.qualityColumnsFromTokens(col("text"), col("__toks"), enStop)
              .map { case (n, c) => c.as(n) }: _*)
    },

    // T57: MODEL-based quality scoring (functions/QualityModel) — the
    // fastText-style linear classifier over HASHED n-gram features that
    // t2's heuristics approximate (the published curation order is
    // lang-id → quality MODEL → dedup → decontam; q11 composes this as a
    // funnel stage). The gate replays the WHOLE inference path
    // cross-engine: canon tokenization, unigram+bigram generation,
    // polynomial-hash bucketing mod 4096 (the t4 fold), the
    // collision-merged weight table, and the division-free decision
    // bias·n + Σw ≥ θ·n — all exact BIGINT, so the full per-doc score
    // inventory hashes. The lexicon includes one BIGRAM ("batch batch")
    // so the bigram feature path is load-bearing in the hash.
    QueryDef.sql(
      "t57_quality_classifier", {
        import graft.functions.QualityModel
        s"""WITH ${QualityModel.oracleCtes("documents", "qm_out")}
           |SELECT doc_id, n_grams, sum_w_fp, score_num_fp,
           |  score_num_fp >= ${QualityModel.gateThresholdFp} * n_grams AS keep
           |FROM qm_out""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.QualityModel
      QualityModel.score(
        Tables.load(spark, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", QualityModel.gateWeights(spark),
        QualityModel.gateBuckets, QualityModel.gateBiasFp,
        QualityModel.gateThresholdFp)
    },

    // T59: the GOPHER rule-pack (functions/GopherRules — Rae et al. 2021
    // Appendix A1, the published document-shape rules every curation
    // stack runs beside a model filter). All ratios are exact 1e-6
    // fixed-point BIGINTs (num·1e6 div den — native IntegralDivide, not
    // the double-widening Column `/`), so the full measurement + rule
    // inventory hashes cross-engine. The corpus has no line structure or
    // symbols, so the fixture derives one doc-shape CLASS per doc_id%5
    // (identical construction both engines — the t50/j2-audit pattern):
    // class 1 plants the stop words (r_stop_words splits), class 2 is
    // 10/11 bullet lines (> the 0.9 line rule), class 3 is 2/3 ellipsis
    // lines (> 0.3), class 4 appends 40 numeric words + '##' (r_alpha
    // fails below 168 corpus words — per-doc deterministic), class 0 is
    // the raw doc (r_word_count splits on the 50-word floor).
    QueryDef.sql(
      "t59_gopher_rules",
      """WITH d0 AS (SELECT doc_id, CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN text
        |    WHEN 1 THEN text || ' of and that have with'
        |    WHEN 2 THEN repeat('- b' || chr(10), 10) || text
        |    WHEN 3 THEN text || chr(10) || 'x...' || chr(10) || 'y...'
        |    ELSE text || repeat(' 12345', 40) || ' ## ...' END AS txt
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(trim(txt)), '\s+'), w -> w <> '') AS ws,
        |  string_split(txt, chr(10)) AS ls,
        |  CAST(length(regexp_replace(lower(trim(txt)), '\s', '', 'g')) AS BIGINT) AS sumlen,
        |  CAST(length(txt) - length(replace(txt, '#', '')) AS BIGINT) AS nhash,
        |  CAST((length(txt) - length(replace(txt, '...', ''))) // 3 AS BIGINT) AS nell
        |  FROM d0),
        |c AS (SELECT doc_id, sumlen, nhash, nell,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS nalpha,
        |  CAST(len(list_distinct(list_filter(ws, w -> w IN ('the','be','to','of','and','that','have','with')))) AS BIGINT) AS n_stopwords,
        |  CAST(len(list_filter(ls, l -> starts_with(l, '- '))) AS BIGINT) AS nbul,
        |  CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT) AS nelll
        |  FROM m),
        |f AS (SELECT doc_id, n_words, n_stopwords,
        |  CASE WHEN n_words > 0 THEN (sumlen * 1000000) // n_words ELSE 0 END AS mean_word_len_fp,
        |  CASE WHEN n_words > 0 THEN (nhash * 1000000) // n_words ELSE 0 END AS hash_ratio_fp,
        |  CASE WHEN n_words > 0 THEN (nell * 1000000) // n_words ELSE 0 END AS ellipsis_ratio_fp,
        |  CASE WHEN n_lines > 0 THEN (nbul * 1000000) // n_lines ELSE 0 END AS bullet_frac_fp,
        |  CASE WHEN n_lines > 0 THEN (nelll * 1000000) // n_lines ELSE 0 END AS ellipsis_line_frac_fp,
        |  CASE WHEN n_words > 0 THEN (nalpha * 1000000) // n_words ELSE 0 END AS alpha_frac_fp
        |  FROM c)
        |SELECT doc_id, n_words, mean_word_len_fp, hash_ratio_fp, ellipsis_ratio_fp,
        |  bullet_frac_fp, ellipsis_line_frac_fp, alpha_frac_fp, n_stopwords,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  mean_word_len_fp BETWEEN 3000000 AND 10000000 AS r_mean_word_len,
        |  (hash_ratio_fp <= 100000 AND ellipsis_ratio_fp <= 100000) AS r_symbol_ratio,
        |  bullet_frac_fp <= 900000 AS r_bullet_lines,
        |  ellipsis_line_frac_fp <= 300000 AS r_ellipsis_lines,
        |  alpha_frac_fp >= 800000 AS r_alpha_words,
        |  n_stopwords >= 2 AS r_stop_words,
        |  (n_words BETWEEN 50 AND 100000 AND mean_word_len_fp BETWEEN 3000000 AND 10000000
        |   AND hash_ratio_fp <= 100000 AND ellipsis_ratio_fp <= 100000
        |   AND bullet_frac_fp <= 900000 AND ellipsis_line_frac_fp <= 300000
        |   AND alpha_frac_fp >= 800000 AND n_stopwords >= 2) AS gopher_keep
        |FROM f""".stripMargin) { (spark, dir) =>
      import graft.functions.GopherRules
      val m5 = pmod(col("doc_id"), lit(5L))
      val txt = when(m5 === 0, col("text"))
        .when(m5 === 1, concat(col("text"), lit(" of and that have with")))
        .when(m5 === 2, concat(repeat(lit("- b\n"), 10), col("text")))
        .when(m5 === 3, concat(col("text"), lit("\nx...\ny...")))
        .otherwise(concat(col("text"), repeat(lit(" 12345"), 40), lit(" ## ...")))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), txt.as("__txt"))
        .select(col("doc_id") +:
          GopherRules.columns(col("__txt")).map { case (n, c) => c.as(n) }: _*)
    },

    // Token counting: whitespace + BPE-ish regex tokenizer.
    QueryDef.sql(
      "t3_token_count",
      """SELECT doc_id,
        |  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS regex_tokens
        |FROM documents""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("ws_tokens"),
        TextAnalysis.tokenCountRegex(col("text")).as("regex_tokens"))
    },

    // Fingerprinting: canonical md5, order-insensitive token-set md5, and a
    // rolling polynomial hash (mod 1e9+7 — overflow-free in both engines).
    QueryDef.sql(
      "t4_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_canon,
        |  md5(array_to_string(list_sort(list_distinct(string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp_token_set,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(length(regexp_replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '[^\x00-\x7F]', '?', 'g'))),
        |        i -> CAST(ascii(regexp_replace(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '[^\x00-\x7F]', '?', 'g')[i+1]) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_rolling
        |FROM documents""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_canon"),
        TextAnalysis.fingerprintTokenSet(col("text")).as("fp_token_set"),
        TextAnalysis.rollingHash(col("text")).as("fp_rolling"))
    },

    // Deterministic stratified sampling (graft.functions.Sampling): fixed
    // per-source rates, keep-decision a pure function of (doc_id, seed) so
    // retries and re-runs select the identical subset. The rate map lists
    // ONLY the strata of interest BY DESIGN — unlisted sources sample at
    // rate 0 (the domain-selection use case: pick named domains, drop the
    // rest); corpus-wide sampling passes a rate for every source.
    // rows-only (xxhash64 family); rate/determinism pinned in
    // SamplingChecksSpec.
    QueryDef.rowsOnly("t6_stratified_sample") { (spark, dir) =>
      graft.functions.Sampling.stratifiedSample(
        Tables.load(spark, dir, "documents"),
        col("source"),
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1),
        seed = 7, col("doc_id"))
        .select("doc_id", "source")
    },

    // PII scrubbing: regex redaction of emails/phone numbers + redaction
    // counts. The corpus is synthetic (no real PII), so the PII is embedded
    // deterministically from doc_id first — the f2 pattern: construct the
    // dirty value in-query, identically in both engines, then exercise the
    // operator. Scan-only, no shuffle.
    QueryDef.sql(
      "t7_pii_scrub",
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\d{3}-\d{2,4}', '<PHONE>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\d{3}-\d{2,4}')) AS INT) AS n_phones
        |FROM aug""".stripMargin) { (spark, dir) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\d{3}-\\d{2,4}"
      val aug = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com call 555-01"),
        lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"))
      val deEmailed = regexp_replace(aug, emailRe, "<EMAIL>")
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        regexp_replace(deEmailed, phoneRe, "<PHONE>").as("scrubbed"),
        size(regexp_extract_all(aug, lit(emailRe), lit(0))).cast("int").as("n_emails"),
        size(regexp_extract_all(deEmailed, lit(phoneRe), lit(0))).cast("int").as("n_phones"))
    },

    // Within-document repetition score (Gopher/RefinedWeb-style quality
    // signal): duplicate token and duplicate 3-gram fractions. Scan-only.
    QueryDef.sql(
      "t8_repetition_score",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, ts,
        |  CASE WHEN len(ts) >= 3 THEN list_transform(range(len(ts)-2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) ELSE [] END AS sh FROM t)
        |SELECT doc_id,
        |  CAST(len(ts) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(ts)) AS INT) AS n_distinct_tokens,
        |  round(CASE WHEN len(ts) > 0 THEN 1.0 - CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) ELSE 0.0 END, 6) AS dup_token_frac,
        |  CAST(len(sh) AS INT) AS n_ngrams,
        |  CAST(len(list_distinct(sh)) AS INT) AS n_distinct_ngrams,
        |  round(CASE WHEN len(sh) > 0 THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh) ELSE 0.0 END, 6) AS dup_ngram_frac
        |FROM s""".stripMargin) { (spark, dir) =>
      // tokens + shingles materialize once (native single-pass shingling;
      // the interpreted HOF chain re-ran the tokenizer per position)
      val toks = col("__toks")
      val sh = col("__sh")
      def dupFrac(all: org.apache.spark.sql.Column) = round(
        when(size(all) > 0,
          lit(1.0) - size(array_distinct(all)).cast("double") / size(all))
          .otherwise(lit(0.0)), 6)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextTokens.tokens(col("text")).as("__toks"),
          graft.functions.expr.WordShingleStrings(
            col("text"), 3, distinct = false).as("__sh"))
        .select(
          col("doc_id"),
          size(toks).cast("int").as("n_tokens"),
          size(array_distinct(toks)).cast("int").as("n_distinct_tokens"),
          dupFrac(toks).as("dup_token_frac"),
          size(sh).cast("int").as("n_ngrams"),
          size(array_distinct(sh)).cast("int").as("n_distinct_ngrams"),
          dupFrac(sh).as("dup_ngram_frac"))
    },

    // T62: the REPETITION half of the Gopher rules (GopherRepetition —
    // Rae et al. 2021 A1's second table; t59 covers the document-shape
    // half): duplicate-LINE character fraction and top-2/3/4-gram
    // character coverage, all exact 1e-6 fixed point with the published
    // thresholds (0.20 / 0.20 / 0.18 / 0.16). The fixture appends a
    // 'unique' line and, for doc_id%3==1, DUPLICATES the text line — so
    // r_dup_lines fires both ways while the n-gram coverage comes from
    // the corpus's own natural repetition (word-salad docs repeat
    // bigrams genuinely — no planting needed, and the per-doc argmax
    // with count-desc/gram-asc tie-break is fully load-bearing in the
    // hash: FULL top-gram strings + counts + fractions per doc).
    QueryDef.sql(
      "t62_gopher_repetition",
      """WITH d0 AS (SELECT doc_id, text || chr(10) || 'unique ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |    CASE WHEN doc_id % 3 = 1 THEN text ELSE 'tail ' || CAST(doc_id AS VARCHAR) END AS txt
        |  FROM documents),
        |m AS (SELECT doc_id, txt,
        |  CAST(length(regexp_replace(lower(trim(txt)), '\s', '', 'g')) AS BIGINT) AS wc,
        |  string_split_regex(lower(trim(txt)), '\s+') AS ts FROM d0),
        |g2 AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN list_transform(range(len(ts)-1), i -> ts[i+1] || ' ' || ts[i+2]) ELSE [] END) AS g FROM m),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c2) WHERE rn = 1),
        |g3 AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3 THEN list_transform(range(len(ts)-2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) ELSE [] END) AS g FROM m),
        |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
        |t3 AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c3) WHERE rn = 1),
        |g4 AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 4 THEN list_transform(range(len(ts)-3), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]) ELSE [] END) AS g FROM m),
        |c4 AS (SELECT doc_id, g, COUNT(*) AS c FROM g4 GROUP BY 1, 2),
        |t4 AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn FROM c4) WHERE rn = 1),
        |ln0 AS (SELECT doc_id, unnest(string_split(txt, chr(10))) AS l FROM m),
        |lc AS (SELECT doc_id, l, COUNT(*) AS c FROM ln0 WHERE l <> '' GROUP BY 1, 2),
        |la AS (SELECT doc_id, CAST(SUM(length(l) * c) AS BIGINT) AS linechars,
        |        CAST(SUM(CASE WHEN c > 1 THEN length(l) * c ELSE 0 END) AS BIGINT) AS duplinechars
        |      FROM lc GROUP BY 1),
        |f AS (SELECT m.doc_id, m.wc AS word_chars,
        |  t2.g AS top2gram, CAST(COALESCE(t2.c, 0) AS BIGINT) AS top2count,
        |  CAST(CASE WHEN COALESCE(t2.c, 0) >= 2 AND m.wc > 0 THEN (t2.c * length(replace(t2.g, ' ', '')) * 1000000) // m.wc ELSE 0 END AS BIGINT) AS top2gram_char_frac_fp,
        |  t3.g AS top3gram, CAST(COALESCE(t3.c, 0) AS BIGINT) AS top3count,
        |  CAST(CASE WHEN COALESCE(t3.c, 0) >= 2 AND m.wc > 0 THEN (t3.c * length(replace(t3.g, ' ', '')) * 1000000) // m.wc ELSE 0 END AS BIGINT) AS top3gram_char_frac_fp,
        |  t4.g AS top4gram, CAST(COALESCE(t4.c, 0) AS BIGINT) AS top4count,
        |  CAST(CASE WHEN COALESCE(t4.c, 0) >= 2 AND m.wc > 0 THEN (t4.c * length(replace(t4.g, ' ', '')) * 1000000) // m.wc ELSE 0 END AS BIGINT) AS top4gram_char_frac_fp,
        |  CAST(CASE WHEN COALESCE(la.linechars, 0) > 0 THEN (COALESCE(la.duplinechars, 0) * 1000000) // la.linechars ELSE 0 END AS BIGINT) AS dup_line_char_frac_fp
        |  FROM m LEFT JOIN t2 ON t2.doc_id = m.doc_id LEFT JOIN t3 ON t3.doc_id = m.doc_id
        |    LEFT JOIN t4 ON t4.doc_id = m.doc_id LEFT JOIN la ON la.doc_id = m.doc_id)
        |SELECT doc_id, word_chars, top2gram, top2count, top2gram_char_frac_fp,
        |  top3gram, top3count, top3gram_char_frac_fp,
        |  top4gram, top4count, top4gram_char_frac_fp, dup_line_char_frac_fp,
        |  top2gram_char_frac_fp <= 200000 AS r_top2gram,
        |  top3gram_char_frac_fp <= 180000 AS r_top3gram,
        |  top4gram_char_frac_fp <= 160000 AS r_top4gram,
        |  dup_line_char_frac_fp <= 200000 AS r_dup_lines,
        |  (top2gram_char_frac_fp <= 200000 AND top3gram_char_frac_fp <= 180000
        |   AND top4gram_char_frac_fp <= 160000 AND dup_line_char_frac_fp <= 200000) AS repetition_keep
        |FROM f""".stripMargin) { (spark, dir) =>
      val txt = concat(col("text"), lit("\nunique "), col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 1, concat(lit("\n"), col("text")))
          .otherwise(concat(lit("\ntail "), col("doc_id"))))
      graft.functions.GopherRepetition.measure(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), txt.as("text")),
        "doc_id", "text")
    },

    // T65: the C4 cleaning rule-pack (functions/C4Rules — Raffel et al.
    // 2020 §2.2, the published heuristics that built C4), completing the
    // published rule-pack trio beside Gopher shape (t59) and repetition
    // (t62): LINE-level survival (terminal punctuation, ≥3 words, no
    // "javascript") then PAGE-level flags (bad-word tokens, "lorem
    // ipsum", '{', ≥5 kept sentences). The oracle is a second
    // implementation of the same rules in DuckDB lambdas (list_filter
    // over split lines) over the identically-constructed body, so every
    // predicate, the in-order reassembly, and the sentence proxy are
    // load-bearing in the hash. The fixture plants lines that fire each
    // rule both ways: three always-kept sentences + the ?-terminated
    // short-but-3-word line + the curly-”-terminated line (zero sentence
    // marks inside — it must not disturb the %11 few_sentences design)
    // + the doc's own text promoted to a sentence
    // survive; 2-word, unterminated, and javascript lines die; doc_id
    // mod 5/3/7 plant badword / brace / lorem page flags; doc_id%11
    // withholds the text line's terminator, dropping that page to 4
    // sentences so few_sentences fires true — every flag and both keep
    // outcomes occur at every SF.
    QueryDef.sql(
      "t65_c4_rules",
      """WITH b AS (SELECT doc_id,
        |  'Alpha beta gamma delta.' || chr(10) || 'Epsilon zeta eta theta!' || chr(10) ||
        |  'Another good line here.' || chr(10) || 'Too short' || chr(10) ||
        |  'This javascript line is long enough.' || chr(10) ||
        |  'No terminal punctuation here' || chr(10) || 'Is this ok?' || chr(10) ||
        |  'He said ' || chr(8220) || 'quoted words here' || chr(8221) || chr(10) ||
        |  text || CASE WHEN doc_id % 11 = 0 THEN '' ELSE '.' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'this badword1 should flag pages.' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'brace { inside code.' ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet.' ELSE '' END AS body
        |  FROM documents),
        |k AS (SELECT doc_id, body,
        |  list_filter(string_split(body, chr(10)), x ->
        |    regexp_matches(rtrim(x), '[.!?"”’]$')
        |    AND len(string_split_regex(trim(x), '\s+')) >= 3
        |    AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM b),
        |f AS (SELECT doc_id, body,
        |  COALESCE(list_aggr(kept, 'string_agg', chr(10)), '') AS kept_text,
        |  CAST(len(string_split(body, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept
        |  FROM k),
        |g AS (SELECT doc_id, kept_text, n_lines, n_lines_kept,
        |  CAST(strlen(kept_text) - strlen(regexp_replace(kept_text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
        |  list_has_any(string_split_regex(lower(body), '\s+'),
        |    ['badword1', 'badword2']) AS has_badword,
        |  contains(lower(body), 'lorem ipsum') AS has_lorem,
        |  contains(body, '{') AS has_brace
        |  FROM f)
        |SELECT doc_id, kept_text, n_lines, n_lines_kept, n_sentences,
        |  has_badword, has_lorem, has_brace,
        |  n_sentences < 5 AS few_sentences,
        |  NOT has_badword AND NOT has_lorem AND NOT has_brace
        |    AND NOT (n_sentences < 5) AS keep
        |FROM g""".stripMargin) { (spark, dir) =>
      val body = concat(
        lit("Alpha beta gamma delta.\nEpsilon zeta eta theta!\n" +
          "Another good line here.\nToo short\n" +
          "This javascript line is long enough.\n" +
          "No terminal punctuation here\nIs this ok?\n" +
          "He said “quoted words here”\n"),
        col("text"),
        when(pmod(col("doc_id"), lit(11L)) === 0, lit("")).otherwise(lit(".")),
        when(pmod(col("doc_id"), lit(5L)) === 0,
          lit("\nthis badword1 should flag pages.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          lit("\nbrace { inside code.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0,
          lit("\nLorem ipsum dolor sit amet.")).otherwise(lit("")))
      graft.functions.C4Rules.report(
        Tables.load(spark, dir, "documents").select(col("doc_id"), body.as("text")),
        "doc_id", "text", Seq("badword1", "badword2"))
    },

    // T66: mojibake repair (expr/FixMojibake — the ftfy method): undo
    // Latin-1/Windows-1252 mis-decodes of UTF-8 text, the encoding
    // damage endemic to web corpora. The fixture plants one damage
    // class per doc_id%5 with the real text riding along as the ASCII
    // tail: Latin-1 mojibake (caf Ã© → café), the cp1252 quote classic
    // (â€™ → ’ — exercises the 0x80–0x9F reverse map), LEGIT Latin-1
    // that must survive untouched (naïve café — its bytes are not
    // UTF-8, the strict-decode veto), pure ASCII, and DOUBLE mojibake
    // (ÃƒÂ© → é — two repair passes). The oracle states every repaired
    // string in CLOSED FORM via chr() codepoints, so the byte mapping,
    // the strict-decode veto, and the pass iteration are all
    // load-bearing in the hash.
    QueryDef.sql(
      "t66_fix_mojibake",
      """SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'caf' || chr(233) || ' ' || text
        |    WHEN 1 THEN 'it' || chr(8217) || 's fine ' || text
        |    WHEN 2 THEN 'na' || chr(239) || 've caf' || chr(233) || ' ' || text
        |    WHEN 3 THEN 'plain ' || text
        |    ELSE 'x' || chr(233) || ' ' || text END AS fixed,
        |  doc_id % 5 IN (0, 1, 4) AS changed
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.expr.FixMojibake
      val m5 = pmod(col("doc_id"), lit(5L))
      val body = when(m5 === 0, concat(lit("cafÃ© "), col("text")))
        .when(m5 === 1, concat(lit("itâ€™s fine "), col("text")))
        .when(m5 === 2, concat(lit("naïve café "), col("text")))
        .when(m5 === 3, concat(lit("plain "), col("text")))
        .otherwise(concat(lit("xÃƒÂ© "), col("text")))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), body.as("__body"))
        .select(col("doc_id"), FixMojibake(col("__body")).as("fixed"),
          (FixMojibake(col("__body")) =!= col("__body")).as("changed"))
    },

    // T72: paragraph-level language segmentation
    // (TextAnalysis.paragraphLanguageReport) — the mC4/CCNet treatment
    // of MIXED-language pages: doc-level lang-id mislabels every
    // minority paragraph, so split on blank lines, lang-id each
    // paragraph, keep the majority language's paragraphs in order.
    // Fixture: para1 is always English (markers + the doc's own text —
    // whose vocabulary holds no es/de/fr markers), para2 flips Spanish
    // on %2, para3 flips German on %3; %6==0 docs are a THREE-WAY
    // paragraph tie where the lexicographic tie-break (de < en < es)
    // is load-bearing — a majority rule using marker-definition order
    // would answer 'en' and fail the hash. kept_text is the full
    // reassembled string, so per-paragraph lang-id, in-order
    // reassembly, and the tie all sit in one value.
    QueryDef.sql(
      "t72_paragraph_lang_segments",
      """WITH d AS (SELECT doc_id,
        |  'the a of and is ' || text AS p1,
        |  CASE WHEN doc_id % 2 = 0 THEN 'el la de y es bueno aqui'
        |       ELSE 'the and is fine here' END AS p2,
        |  CASE WHEN doc_id % 3 = 0 THEN 'der die das und ist gut'
        |       ELSE 'the of and here too' END AS p3
        |  FROM documents)
        |SELECT doc_id, CAST(3 AS BIGINT) AS n_paras,
        |  CASE WHEN doc_id % 6 = 0 THEN 'de' ELSE 'en' END AS majority_lang,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN 1
        |            WHEN doc_id % 2 = 0 OR doc_id % 3 = 0 THEN 2
        |            ELSE 3 END AS BIGINT) AS n_majority_paras,
        |  CASE WHEN doc_id % 6 = 0 THEN p3
        |       WHEN doc_id % 2 = 0 THEN p1 || chr(10) || chr(10) || p3
        |       WHEN doc_id % 3 = 0 THEN p1 || chr(10) || chr(10) || p2
        |       ELSE p1 || chr(10) || chr(10) || p2 || chr(10) || chr(10) || p3
        |  END AS kept_text
        |FROM d""".stripMargin) { (spark, dir) =>
      val p1 = concat(lit("the a of and is "), col("text"))
      val p2 = when(pmod(col("doc_id"), lit(2L)) === 0, lit("el la de y es bueno aqui"))
        .otherwise(lit("the and is fine here"))
      val p3 = when(pmod(col("doc_id"), lit(3L)) === 0, lit("der die das und ist gut"))
        .otherwise(lit("the of and here too"))
      TextAnalysis.paragraphLanguageReport(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"),
            concat(p1, lit("\n\n"), p2, lit("\n\n"), p3).as("body")),
        "doc_id", "body")
    },

    // T70: category blocklist matching (functions/Blocklist) — the
    // UT1/badwords curation stage, as SUBSTRING occurrence (an embedded
    // match inside a longer word fires — the evasion t65's token rule
    // documents as out of scope; doc_id%7 plants exactly that). The
    // mechanism is the length-grouped SHINGLE JOIN: per pattern length,
    // each doc's distinct char shingles broadcast-join the pattern
    // table — cost independent of pattern count per length, unlike a
    // regex alternation. The oracle is contains() per planted class:
    // %3 appends the adult pattern as a word, %7 embeds it
    // (prexbadxpost), %5 plants malware, %11 gambling; %21 hits the
    // adult pattern BOTH ways — n_patterns counts DISTINCT patterns,
    // so the dedup is load-bearing.
    QueryDef.sql(
      "t70_blocklist_match",
      """WITH f AS (SELECT doc_id,
        |  doc_id % 3 = 0 OR doc_id % 7 = 0 AS a,
        |  doc_id % 11 = 0 AS g, doc_id % 5 = 0 AS m FROM documents)
        |SELECT doc_id,
        |  COALESCE(array_to_string(list_filter(
        |    [CASE WHEN a THEN 'adult' END, CASE WHEN g THEN 'gambling' END,
        |     CASE WHEN m THEN 'malware' END], x -> x IS NOT NULL), ','), '') AS categories_csv,
        |  CAST(CAST(a AS INT) + CAST(g AS INT) + CAST(m AS INT) AS BIGINT) AS n_patterns,
        |  a OR g OR m AS blocked
        |FROM f""".stripMargin) { (spark, dir) =>
      val body = concat(col("text"),
        when(pmod(col("doc_id"), lit(3L)) === 0, lit(" xbadx")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7L)) === 0, lit(" prexbadxpost")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5L)) === 0, lit(" see evilco.example now"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11L)) === 0, lit(" zzq")).otherwise(lit("")))
      graft.functions.Blocklist.matchCategories(
          Tables.load(spark, dir, "documents").select(col("doc_id"), body.as("body")),
          "doc_id", "body",
          Seq("xbadx" -> "adult", "evilco.example" -> "malware", "zzq" -> "gambling"))
        .select(col("doc_id"),
          array_join(col("categories"), ",").as("categories_csv"),
          col("n_patterns"), col("blocked"))
    },

    // T69: Unicode NFC normalization (expr/UnicodeNormalize — UAX #15):
    // the canonicalization step ahead of every hash-keyed stage (exact
    // dedup, shingles, URL keys), hash-compared against DuckDB's
    // INDEPENDENT utf8proc implementation — two conformant normalizers
    // must agree byte-for-byte. Classes per doc_id%6: combining acute →
    // precomposed é, already-precomposed é unchanged, A+grave → À,
    // pure ASCII, the ﬁ ligature (NFC-INVARIANT — pins NFC ≠ NFKC),
    // and o+diaeresis+macron (multi-mark canonical composition → ȫ,
    // composing only the first mark). octet_length shifts prove the
    // byte-level rewrite.
    QueryDef.sql(
      "t69_nfc_normalize",
      """SELECT doc_id,
        |  nfc_normalize(CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'caf' || 'e' || chr(769) || ' ' || text
        |    WHEN 1 THEN 'caf' || chr(233) || ' ' || text
        |    WHEN 2 THEN 'A' || chr(768) || ' ' || text
        |    WHEN 3 THEN 'plain ' || text
        |    WHEN 4 THEN chr(64257) || ' ' || text
        |    ELSE 'o' || chr(776) || chr(772) || ' ' || text END) AS norm,
        |  doc_id % 6 IN (0, 2, 5) AS changed,
        |  CAST(strlen(nfc_normalize(CASE CAST(doc_id % 6 AS INT)
        |    WHEN 0 THEN 'caf' || 'e' || chr(769) || ' ' || text
        |    WHEN 1 THEN 'caf' || chr(233) || ' ' || text
        |    WHEN 2 THEN 'A' || chr(768) || ' ' || text
        |    WHEN 3 THEN 'plain ' || text
        |    WHEN 4 THEN chr(64257) || ' ' || text
        |    ELSE 'o' || chr(776) || chr(772) || ' ' || text END)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.expr.UnicodeNormalize
      val m6 = pmod(col("doc_id"), lit(6L))
      val body = when(m6 === 0, concat(lit("café "), col("text")))
        .when(m6 === 1, concat(lit("café "), col("text")))
        .when(m6 === 2, concat(lit("À "), col("text")))
        .when(m6 === 3, concat(lit("plain "), col("text")))
        .when(m6 === 4, concat(lit("ﬁ "), col("text")))
        .otherwise(concat(lit("ȫ "), col("text")))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), body.as("__body"))
        .select(col("doc_id"),
          UnicodeNormalize.nfc(col("__body")).as("norm"),
          (UnicodeNormalize.nfc(col("__body")) =!= col("__body")).as("changed"),
          octet_length(UnicodeNormalize.nfc(col("__body"))).cast("long").as("n_bytes"))
    },

    // T67: exact phrase search (functions/PhraseSearch) — the
    // positional-retrieval primitive beside d46's bag-of-words BM25:
    // every occurrence of the phrase "batch batch", OVERLAPPING
    // occurrences included (the corpus's natural "batch batch batch"
    // runs make the overlap law load-bearing: starts i AND i+1). The
    // engine runs the SCAN path (higher-order slice-equality filter —
    // zero shuffle); the postings-join INDEX path is pinned
    // bit-identical in PhraseSearchSpec. Zero-hit docs stay in the
    // report with an empty array — the oracle's list_filter over
    // range() re-derives every start position independently.
    QueryDef.sql(
      "t67_phrase_search",
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |o AS (SELECT doc_id,
        |  list_filter(range(1, greatest(len(ts) - 1, 0) + 1),
        |    i -> ts[i] = 'batch' AND ts[i+1] = 'batch') AS starts FROM t)
        |SELECT doc_id, COALESCE(array_to_string(starts, ','), '') AS starts_csv,
        |  CAST(len(starts) AS BIGINT) AS n_occurrences,
        |  len(starts) > 0 AS contains
        |FROM o""".stripMargin) { (spark, dir) =>
      graft.functions.PhraseSearch.occurrences(
          Tables.load(spark, dir, "documents"), "doc_id", "text",
          Seq("batch", "batch"))
        .select(col("doc_id"),
          array_join(col("starts").cast("array<string>"), ",").as("starts_csv"),
          col("n_occurrences"), col("contains"))
    },

    // Length bucketing for batch shaping: histogram of documents by
    // token-count decade — one narrow scan + one aggregation shuffle on a
    // low-cardinality key.
    QueryDef.sql(
      "t9_length_buckets",
      """WITH t AS (SELECT len(string_split_regex(lower(trim(text)), '\s+')) AS n FROM documents)
        |SELECT CAST(n - (n % 10) AS INT) AS bucket,
        |       COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens
        |FROM t GROUP BY 1""".stripMargin) { (spark, dir) =>
      val n = TextAnalysis.tokenCountWs(col("text"))
      Tables.load(spark, dir, "documents")
        .select((n - pmod(n, lit(10))).cast("int").as("bucket"), n.as("n"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("total_tokens"))
    },

    // Document chunking: overlapping token windows (W=32, stride 24 — the
    // standard LLM-ingest shape: every token is covered, consecutive chunks
    // share W-S tokens of context). Output-proportional explode off the
    // scan, no shuffle; a doc yields 1 + ceil(max(n-W,0)/S) chunks.
    QueryDef.sql(
      "t12_chunk_windows",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |c AS (SELECT doc_id, ts, len(ts) AS n,
        |        1 + CAST(ceil(greatest(len(ts) - 32, 0) / 24.0) AS INT) AS nchunks FROM t),
        |e AS (SELECT doc_id, ts, n, unnest(range(nchunks)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |       array_to_string(ts[ci*24+1 : least(ci*24+32, n)], ' ') AS chunk,
        |       CAST(least(ci*24+32, n) - ci*24 AS INT) AS n_chunk_tokens
        |FROM e""".stripMargin) { (spark, dir) =>
      val toks = graft.functions.TextTokens.tokens(col("text"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), toks.as("ts"), size(toks).as("n"))
        .withColumn("nchunks",
          (lit(1) + ceil(greatest(col("n") - 32, lit(0)) / 24.0)).cast("int"))
        .select(col("doc_id"), col("ts"), col("n"),
          posexplode(sequence(lit(0), col("nchunks") - 1)).as(Seq("pos", "ci")))
        .select(
          col("doc_id"),
          col("ci").cast("int").as("chunk_idx"),
          concat_ws(" ", slice(col("ts"), col("ci") * 24 + 1, lit(32))).as("chunk"),
          (least(col("ci") * 24 + 32, col("n")) - col("ci") * 24).cast("int").as("n_chunk_tokens"))
    },

    // Multimodal feature pipeline: synthesize the deterministic seeded
    // media corpus (no driver-provided media table exists; the stub decode
    // contract is SURVEY-mandated), chain resize → per-partition decode →
    // scalar features. rows-only: binary payloads have no DuckDB oracle;
    // the decode/resize/frame semantics are pinned in MultimodalSpec.
    QueryDef.rowsOnly("m1_multimodal_features") { (spark, _) =>
      import graft.multimodal.Multimodal
      val media = Multimodal.synthesizeCorpus(spark, 200)
      Multimodal.extractFeatures(Multimodal.resize(media, 16, 16)).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_bytes"), round(col("brightness"), 6).as("brightness"))
    },

    // Audio feature pipeline over REAL RIFF/PCM WAV containers (the
    // deterministic synthetic WAV corpus): the sniffing dispatch routes
    // each payload to the genuine chunk-walking WavDecoder inside the
    // partition-batched decode stage. rows-only (binary payloads have no
    // DuckDB oracle); decode semantics are pinned byte-level in
    // MultimodalSpec.
    QueryDef.rowsOnly("m5_wav_features") { (spark, _) =>
      import graft.multimodal.Multimodal
      Multimodal.extractFeatures(
          Multimodal.synthesizeWavCorpus(spark, 200)).toDF()
        .select(col("media_id"), col("width").as("frames"),
          col("height").as("channels"), col("n_bytes"),
          round(col("brightness"), 6).as("amp_center"))
    },

    // Video feature pipeline over REAL MJPEG/AVI containers (the
    // deterministic synthetic AVI corpus, solid-color JPEG frames at
    // histogram-bucket centers): the sniffing dispatch demuxes the RIFF
    // container and decodes every 00dc frame with the JDK's JPEG reader
    // inside the partition-batched decode stage; the frame count joins in
    // from the REAL demux path (sampleAviFrames, everyN=1). rows-only
    // (binary payloads have no DuckDB oracle); demux/decode semantics are
    // pinned byte-level in MultimodalSpec.
    QueryDef.rowsOnly("m6_video_features") { (spark, _) =>
      import graft.multimodal.Multimodal
      val media = Multimodal.synthesizeAviCorpus(spark, 120)
      val feats = Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_bytes"), round(col("brightness"), 6).as("brightness"))
      val frames = Multimodal.sampleAviFrames(media, everyN = 1).toDF()
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      feats.join(frames, "media_id")
    },

    // M11: scene-change detection through the REAL MJPEG decode — the
    // shot-boundary primitive of video curation (sample one frame per
    // SCENE, not per second). Unlike m6's rows-only feature dump this is
    // fully ORACLED: the scene corpus plants closed-form cuts (scene A
    // gray 40 → B gray 200 at frame 2+id%3; ids%4==0 cut BACK at +2),
    // and the 160-level jump dwarfs the JPEG round-trip's ±2 ripple on
    // solid frames, so the exact fixed-point mean-luminance deltas the
    // engine measures through the genuine RIFF demux + JDK JPEG decode
    // MUST reproduce the oracle's arithmetic cut list — a demuxer that
    // drops/reorders a frame, a luma formula drift, or a threshold off
    // by the ripple fails on a value.
    QueryDef.sql(
      "m11_scene_changes",
      """WITH r AS (SELECT range AS id FROM range(60)),
        |c AS (SELECT id, 6 + id % 3 AS nf, 2 + id % 3 AS c1, id % 4 = 0 AS two FROM r)
        |SELECT id AS media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CASE WHEN two THEN CAST(c1 AS VARCHAR) || ',' || CAST(c1 + 2 AS VARCHAR)
        |       ELSE CAST(c1 AS VARCHAR) END AS cuts_csv,
        |  CAST(CASE WHEN two THEN 3 ELSE 2 END AS BIGINT) AS n_scenes
        |FROM c""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      Multimodal.sceneChanges(
        Multimodal.synthesizeSceneAviCorpus(spark, 60),
        thresholdFp = 80000000L).toDF()
    },

    // M12: audio silence segmentation through the REAL WAV decode — the
    // audio-curation primitive (trim lead-in/out silence, split at
    // pauses), the m11 discipline applied to sound: the silence corpus
    // plants closed-form segment plans (lead silence of 1+id%2 windows,
    // a ±20000 square tone, ids%3==0 add a trailing silent window) and
    // exact-silence-vs-20000 dwarfs the threshold (1000), so the
    // integer max-amplitude classification through the genuine RIFF
    // walk must reproduce the oracle's arithmetic segment list — a
    // window misalignment, a signed-PCM decode slip, or a run-merge bug
    // fails on a value.
    QueryDef.sql(
      "m12_silence_segments",
      """WITH r AS (SELECT range AS id FROM range(48)),
        |c AS (SELECT id, 4 + id % 4 AS nw, 1 + id % 2 AS lead, id % 3 = 0 AS trail FROM r)
        |SELECT id AS media_id, CAST(0 AS BIGINT) AS seg_idx, 'silence' AS seg_kind,
        |  CAST(0 AS BIGINT) AS start_window, CAST(lead AS BIGINT) AS n_windows FROM c
        |UNION ALL SELECT id, 1, 'sound', CAST(lead AS BIGINT),
        |  CAST(nw - lead - CASE WHEN trail THEN 1 ELSE 0 END AS BIGINT) FROM c
        |UNION ALL SELECT id, 2, 'silence', CAST(nw - 1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM c WHERE trail""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      Multimodal.silenceSegments(
        Multimodal.synthesizeSilenceWavCorpus(spark, 48),
        window = 16, thresholdAmp = 1000).toDF()
    },

    // M13: resample-then-segment COMPOSITION — m12's silence
    // segmentation over resampleWav(factor 2) output, the window
    // arithmetic THROUGH the rate change: the silence corpus's 16-frame
    // synthesis windows decimate to 8 frames each, so segmenting the
    // resampled audio at window=8 must reproduce m12's exact segment
    // plan (decimation keeps even frames: silent windows stay 0, the
    // ±20000 square tone's surviving samples are all +20000 — still
    // sound). The resampled frame count rides along from a REAL
    // re-decode of the rewritten container (extractFeatures → WavDecoder
    // width), so the fmt/data rewrite is load-bearing too: a rate
    // rewrite that pads, truncates, or misaligns the data chunk shifts
    // either the segment plan or the frame count and fails on a value.
    QueryDef.sql(
      "m13_resampled_silence",
      """WITH r AS (SELECT range AS id FROM range(48)),
        |c AS (SELECT id, 4 + id % 4 AS nw, 1 + id % 2 AS lead, id % 3 = 0 AS trail FROM r),
        |s AS (
        |  SELECT id, 0 AS seg_idx, 'silence' AS seg_kind, 0 AS start_window,
        |    lead AS n_windows FROM c
        |  UNION ALL SELECT id, 1, 'sound', lead,
        |    nw - lead - CASE WHEN trail THEN 1 ELSE 0 END FROM c
        |  UNION ALL SELECT id, 2, 'silence', nw - 1, 1 FROM c WHERE trail)
        |SELECT s.id AS media_id, CAST(s.seg_idx AS BIGINT) AS seg_idx, s.seg_kind,
        |  CAST(s.start_window AS BIGINT) AS start_window,
        |  CAST(s.n_windows AS BIGINT) AS n_windows,
        |  CAST(c.nw * 8 AS BIGINT) AS frames_resampled
        |FROM s JOIN c ON c.id = s.id""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val resampled = Multimodal.resampleWav(
        Multimodal.synthesizeSilenceWavCorpus(spark, 48), factor = 2)
      val segs = Multimodal.silenceSegments(resampled,
        window = 8, thresholdAmp = 1000).toDF()
      val frames = Multimodal.extractFeatures(resampled).toDF()
        .select(col("media_id"), col("width").cast("long").as("frames_resampled"))
      segs.join(frames, "media_id")
    },

    // M14: scene-keyframe PNG extraction — the payoff composition after
    // m11 (one frame per SCENE, not per second), end to end through
    // THREE real codecs: RIFF demux → JDK JPEG decode → exact
    // fixed-point cut detection → PNG re-encode, then each keyframe
    // RE-DECODED through the sniffing PNG path for the gate. The scene
    // corpus's closed-form plan states every row: scene starts 0 / c1 /
    // (c1+2 for ids%4==0), keyframe dims = the AVI's frame dims, and
    // the scene LABEL classifies the re-decoded brightness (solid ~40
    // gray → histogram bin 2, ~200 → bin 12; the JPEG ±2 ripple cannot
    // cross a 16-wide bin) — so a demux slip, a wrong keyframe index,
    // or a lossy re-encode fails on a value. The PNG file sink itself
    // is byte-pinned in MultimodalSpec.
    QueryDef.sql(
      "m14_scene_keyframes",
      """WITH r AS (SELECT range AS id FROM range(60)),
        |c AS (SELECT id, 16 + (id % 3) * 8 AS w, 16 + (id % 2) * 8 AS h,
        |  2 + id % 3 AS c1, id % 4 = 0 AS two FROM r)
        |SELECT id AS media_id, CAST(0 AS BIGINT) AS scene_idx,
        |  CAST(0 AS BIGINT) AS start_frame, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, 'A' AS scene_label FROM c
        |UNION ALL SELECT id, 1, CAST(c1 AS BIGINT), CAST(w AS INT), CAST(h AS INT), 'B' FROM c
        |UNION ALL SELECT id, 2, CAST(c1 + 2 AS BIGINT), CAST(w AS INT), CAST(h AS INT), 'A'
        |FROM c WHERE two""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val kf = Multimodal.sceneKeyframes(
        Multimodal.synthesizeSceneAviCorpus(spark, 60), thresholdFp = 80000000L)
      val feats = Multimodal.extractFeatures(Multimodal.keyframesAsMedia(kf)).toDF()
        .select(col("media_id").as("__kid"), col("width"), col("height"),
          col("brightness"))
      kf.toDF().select(col("media_id"), col("scene_idx"), col("start_frame"))
        .join(feats, col("media_id") * 1000L + col("scene_idx") === col("__kid"))
        .select(col("media_id"), col("scene_idx"), col("start_frame"),
          col("width"), col("height"),
          when(col("brightness") < 0.5, "A").otherwise("B").as("scene_label"))
    },

    // M15: VIDEO dedup via keyframe fingerprints — the composition
    // m9/m10/m14 point at: extract one PNG keyframe per scene (m14's
    // real demux→JPEG→cut→PNG chain), fingerprint the bytes, cluster.
    // The scene corpus makes the clusters CLOSED FORM: the AVI is a
    // pure function of id%12, and a scene-A keyframe (gray 40) is
    // byte-identical across classes sharing (id%3, id%2) — i.e. id%6 —
    // so A-clusters span the {c, c+6} class pair (size 15 when either
    // class cuts back to A, c even; else 10) and B-clusters are always
    // 10, both keyed by cluster_min = id%6. The gate therefore pins
    // BYTE-determinism of the whole decode→encode chain ACROSS media
    // (a nondeterministic PNG encoder, a JPEG decode drift, or a
    // demux slip splits a cluster and fails on a value) plus the
    // dedup-composition itself. One md5-keyed window, linear.
    QueryDef.sql(
      "m15_keyframe_dedup",
      """WITH r AS (SELECT range AS id FROM range(60)),
        |c AS (SELECT id, id % 6 AS c6, id % 4 = 0 AS two FROM r),
        |s AS (SELECT id, c6, 0 AS scene_idx, TRUE AS is_a FROM c
        |  UNION ALL SELECT id, c6, 1, FALSE FROM c
        |  UNION ALL SELECT id, c6, 2, TRUE FROM c WHERE two)
        |SELECT id AS media_id, CAST(scene_idx AS BIGINT) AS scene_idx,
        |  CAST(c6 AS BIGINT) AS cluster_min,
        |  CAST(CASE WHEN is_a AND c6 % 2 = 0 THEN 15 ELSE 10 END AS BIGINT)
        |    AS cluster_size
        |FROM s""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      import org.apache.spark.sql.expressions.Window
      val kf = Multimodal.sceneKeyframes(
        Multimodal.synthesizeSceneAviCorpus(spark, 60), thresholdFp = 80000000L)
      val w = Window.partitionBy(col("__fp"))
      kf.toDF()
        .select(col("media_id"), col("scene_idx"), md5(col("png")).as("__fp"))
        .select(col("media_id"), col("scene_idx"),
          min(col("media_id")).over(w).as("cluster_min"),
          count(lit(1)).over(w).as("cluster_size"))
    },

    // T43: the sampler laws (t6/t21's hashed audit): the deterministic
    // hash-threshold design makes three properties THEOREMS — rate 1.0
    // keeps everything and an absent stratum keeps nothing (threshold
    // compare against 1.0 / 0.0), nested rates nest their samples
    // (hash < 0.2 ⟹ hash < 0.5, so the 20% sample is a subset of the
    // 50% one — the reproducible-curriculum property), and re-evaluation
    // returns the identical set (pure function of id+seed). Each hashes
    // as a per-source boolean next to the oracled stratum size.
    QueryDef.sql(
      "t43_sampler_invariants",
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
        |  TRUE AS full_rate_keeps_all, TRUE AS absent_stratum_empty,
        |  TRUE AS nested_rates_nest, TRUE AS rerun_identical
        |FROM documents GROUP BY 1""".stripMargin) { (spark, dir) =>
      import graft.functions.Sampling
      val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("source"))
      // The first three laws are per-row predicates over the samplers'
      // OWN primitive (hashFraction — `sample` is literally
      // filter(hashFraction < rate)), so they consolidate into one
      // conditional-count pass instead of one scan per sampler leg (8
      // scans, measured, before this shape). The re-run law keeps two
      // genuinely separate evaluations through the public API — that is
      // the property under test.
      val hf = Sampling.hashFraction(7, col("doc_id"))
      val absentRate = coalesce(
        element_at(typedLit(Map("no_such_source" -> 1.0)), col("source")), lit(0.0))
      val laws = docs.select(col("doc_id"), col("source"),
          hf.as("hf"), absentRate.as("r0"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("hf") < 1.0, 1)).as("n_full"),
          count(when(col("hf") < col("r0"), 1)).as("n_absent"),
          count(when(col("hf") < 0.2 && !(col("hf") < 0.5), 1)).as("n_escape"))
      val s20 = Sampling.sample(docs, 0.2, seed = 7, col("doc_id"))
      val s20b = Sampling.sample(docs, 0.2, seed = 7, col("doc_id"))
      val diff = s20.select(col("doc_id"), col("source"))
        .exceptAll(s20b.select(col("doc_id"), col("source")))
      laws
        .join(diff.groupBy(col("source")).agg(count(lit(1)).as("n_diff")),
          Seq("source"), "left")
        .select(col("source"), col("n_total"),
          (col("n_full") === col("n_total")).as("full_rate_keeps_all"),
          (col("n_absent") === 0L).as("absent_stratum_empty"),
          (col("n_escape") === 0L).as("nested_rates_nest"),
          (coalesce(col("n_diff"), lit(0L)) === 0L).as("rerun_identical"))
    },

    // T44: the weighted sampler's laws (t21's hashed audit, completing the
    // sampler family beside t43): Efraimidis–Spirakis A-ES keys are a pure
    // function of (id, seed, weight), so re-evaluation returns the
    // identical set; the key map u^(1/w) is monotone under weight scaling
    // (w → c·w applies x → x^(1/c) to every key), so the selected set is
    // weight-SCALE-invariant; and the sampler returns exactly k rows with
    // every weight positive. Each law hashes as a boolean beside the
    // oracled k and corpus size.
    QueryDef.sql(
      "t44_weighted_sampler_laws",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus, CAST(50 AS BIGINT) AS k,
        |  TRUE AS exactly_k, TRUE AS scale_invariant, TRUE AS rerun_identical,
        |  TRUE AS weights_positive
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.Sampling
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("double").as("w"))
      def pick(weight: org.apache.spark.sql.Column) =
        Sampling.weightedSample(docs, k = 50, seed = 11, weight, col("doc_id"))
          .select(col("doc_id"))
      val a = pick(col("w"))
      val b = pick(col("w") * 1000.0) // scaled weights
      val c = pick(col("w"))          // genuine re-evaluation
      def sameSet(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
        x.exceptAll(y).unionAll(y.exceptAll(x))
          .agg(count(lit(1)).as("n"))
      val kA = a.agg(count(lit(1)).as("ka"))
      val wMin = docs.agg((min(col("w")) > 0).as("pos"))
      docs.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(broadcast(kA))
        .crossJoin(broadcast(sameSet(a, b).withColumnRenamed("n", "d_ab")))
        .crossJoin(broadcast(sameSet(a, c).withColumnRenamed("n", "d_ac")))
        .crossJoin(broadcast(wMin))
        .select(col("n_corpus"), lit(50L).as("k"),
          (col("ka") === least(lit(50L), col("n_corpus"))).as("exactly_k"),
          (col("d_ab") === 0L).as("scale_invariant"),
          (col("d_ac") === 0L).as("rerun_identical"),
          col("pos").as("weights_positive"))
    },

    // M7: the media-decode VALUE gate (the bound-audit pattern crossing
    // into binary payloads): the synthetic WAV/AVI corpora declare their
    // shapes by closed-form arithmetic over the media id, which DuckDB
    // can generate from range() — so the REAL chunk-walk/JPEG decode's
    // outputs (frames, channels, width, height, demuxed frame count)
    // hash against the formulas value-for-value. A decoder that drifts
    // by one frame or swaps a dimension now fails the driver gate, not
    // just a local spec.
    QueryDef.sql(
      "m7_container_metadata_audit",
      """SELECT CAST(id AS BIGINT) AS media_id, 'audio' AS kind,
        |  CAST(64 + id % 128 AS INT) AS dim1, CAST(1 + id % 2 AS INT) AS dim2,
        |  CAST(NULL AS INT) AS n_frames
        |FROM range(24) t(id)
        |UNION ALL
        |SELECT CAST(id + 1000 AS BIGINT), 'video',
        |  CAST(16 + (id % 3) * 8 AS INT), CAST(16 + (id % 2) * 8 AS INT),
        |  CAST(2 + id % 4 AS INT)
        |FROM range(24) t(id)""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val wav = Multimodal.extractFeatures(Multimodal.synthesizeWavCorpus(spark, 24))
        .toDF()
        .select(col("media_id"), col("kind"), col("width").as("dim1"),
          col("height").as("dim2"), lit(null).cast("int").as("n_frames"))
      val aviMedia = Multimodal.synthesizeAviCorpus(spark, 24)
      val aviFrames = Multimodal.sampleAviFrames(aviMedia, everyN = 1).toDF()
        .groupBy(col("media_id")).agg(count(lit(1)).cast("int").as("n_frames"))
      val avi = Multimodal.extractFeatures(aviMedia).toDF()
        .join(aviFrames, Seq("media_id"))
        .select((col("media_id") + 1000).as("media_id"), col("kind"),
          col("width").as("dim1"), col("height").as("dim2"), col("n_frames"))
      wav.unionAll(avi)
    },

    // M8: the transform half of the media audit — REAL resample/resize
    // outputs re-DECODED and hashed against closed-form expectations:
    // every 3rd-frame WAV decimation must decode to ⌈frames/3⌉ frames with
    // channels preserved (the rewritten RIFF container goes back through
    // the genuine chunk walk), and the AVI corpora's demuxed first frames,
    // bilinear-rescaled and re-encoded as PNG, must decode to exactly the
    // target dims via javax.imageio. A transform that corrupts its
    // container or fudges a dimension fails the driver gate on values.
    QueryDef.sql(
      "m8_media_transform_audit",
      """SELECT CAST(id AS BIGINT) AS media_id, 'audio' AS kind,
        |  CAST((64 + id % 128 + 2) // 3 AS INT) AS dim1,
        |  CAST(1 + id % 2 AS INT) AS dim2
        |FROM range(24) t(id)
        |UNION ALL
        |SELECT CAST(id + 1000 AS BIGINT), 'image', CAST(8 AS INT), CAST(8 AS INT)
        |FROM range(24) t(id)""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val wav = Multimodal.extractFeatures(
          Multimodal.resampleWav(Multimodal.synthesizeWavCorpus(spark, 24), factor = 3))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("width").as("dim1"), col("height").as("dim2"))
      import spark.implicits._
      val firstFrames = Multimodal.sampleAviFrames(
          Multimodal.synthesizeAviCorpus(spark, 24), everyN = 100)
        .map(f => Multimodal.MediaRow(f.media_id + 1000, "image", 0, 0, f.frame))
      val resized = Multimodal.extractFeatures(
          Multimodal.resizeImages(firstFrames, 8, 8)).toDF()
        .select(col("media_id"), col("kind"),
          col("width").as("dim1"), col("height").as("dim2"))
      wav.unionAll(resized)
    },

    // M9: PERCEPTUAL image hashing (Multimodal.perceptualHashes) — aHash
    // + dHash over the REAL PNG decode path: near-duplicate images
    // (rescales, re-encodes) collapse to nearby hashes where byte
    // fingerprints (m3's md5) see nothing. The gate is the m7
    // closed-form pattern upgraded to full VALUES: the synthetic PNG
    // corpus is lossless with block-lattice pixels from range()-generable
    // arithmetic, so the oracle rebuilds the 8×8 luminance grid and both
    // hashes bit for bit (aHash as two 32-bit halves — 64 bits would
    // sign-wrap; dHash as 7×8 = 56 bits). The planted near-dup audit is
    // the d43 shape: the SAME image id re-rendered at 2× resolution is
    // byte-different (md5 differs, asserted as a real comparison) yet
    // block-identical, so the twin's perceptual hamming must be exactly
    // 0 THROUGH the genuine decode + integer block-mean downsample.
    QueryDef.sql(
      "m9_perceptual_hash",
      """WITH gk AS (SELECT t.id, u.gy, v.gx, ((t.id*64 + u.gy*8 + v.gx + 1) * 2654435761) % 1000000007 AS m
        |           FROM range(48) t(id), range(8) u(gy), range(8) v(gx)),
        |g AS (SELECT id, gy, gx, (m * m) % 1000000007 % 256 AS b FROM gk),
        |a AS (SELECT id, SUM(b) // 64 AS avg FROM g GROUP BY id),
        |ah AS (SELECT g.id,
        |        CAST(SUM(CASE WHEN b > a.avg AND gy*8+gx >= 32 THEN (CAST(1 AS BIGINT) << CAST(gy*8+gx-32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |        CAST(SUM(CASE WHEN b > a.avg AND gy*8+gx < 32 THEN (CAST(1 AS BIGINT) << CAST(gy*8+gx AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |       FROM g JOIN a USING (id) GROUP BY g.id),
        |d AS (SELECT l.id, CAST(SUM(CASE WHEN l.b > r.b THEN (CAST(1 AS BIGINT) << CAST(l.gy*7+l.gx AS INT)) ELSE 0 END) AS BIGINT) AS dhash
        |      FROM g l JOIN g r ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
        |      WHERE l.gx < 7 GROUP BY l.id)
        |SELECT CAST(ah.id AS BIGINT) AS media_id,
        |       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |       ah.ahash_hi, ah.ahash_lo, d.dhash,
        |       CAST(0 AS INT) AS twin_hamming, FALSE AS payload_identical
        |FROM ah JOIN d ON d.id = ah.id""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val base = Multimodal.synthesizePngCorpus(spark, 48, scale = 2)
      val twin = Multimodal.synthesizePngCorpus(spark, 48, scale = 4, idOffset = 10000L)
      val hb = Multimodal.perceptualHashes(base)
      val ht = Multimodal.perceptualHashes(twin)
        .select((col("media_id") - 10000L).as("media_id"),
          col("ahash_hi").as("t_hi"), col("ahash_lo").as("t_lo"),
          col("dhash").as("t_d"))
      val fps = base.toDF()
        .select(col("media_id"), md5(col("payload")).as("fp_base"))
        .join(twin.toDF().select((col("media_id") - 10000L).as("media_id"),
          md5(col("payload")).as("fp_twin")), Seq("media_id"))
      hb.join(ht, Seq("media_id")).join(fps, Seq("media_id"))
        .select(col("media_id"), col("width"), col("height"),
          col("ahash_hi"), col("ahash_lo"), col("dhash"),
          (bit_count(col("ahash_hi").bitwiseXOR(col("t_hi"))) +
            bit_count(col("ahash_lo").bitwiseXOR(col("t_lo"))) +
            bit_count(col("dhash").bitwiseXOR(col("t_d")))).cast("int").as("twin_hamming"),
          (col("fp_base") === col("fp_twin")).as("payload_identical"))
    },

    // M10: IMAGE near-dup pair search — m9's perceptual hashes pushed
    // through the d2/d3 LSH shape, banding BOTH hashes: the 64-bit aHash
    // as 4×16-bit bands AND the 56-bit dHash as 4×14-bit bands (bi 4-7),
    // one bucket-join on (band, value) over the union — candidates are
    // only images agreeing on ≥1 band of EITHER signature (linear in
    // collisions, never all-pairs), then verify exact hamming with a
    // per-signature threshold: near-dup iff aham ≤ 6 OR dham ≤ 6 (the
    // published two-signature practice — each hash catches the edit
    // class the other is blind to). aHash-only banding missed exactly
    // the class dHash exists for: a gradient-preserving retouch (every
    // block b → b·5/8 + 88 on alternating rows — within-row ORDER kept,
    // every mean relation rewritten) has aHash hamming 10-28 with NO
    // surviving 16-bit aHash band, yet dHash hamming ≤ 1. Fixture
    // plants BOTH twin classes on each of 48 pristine images: +10000 =
    // localized bump (aham ≤ 3), +30000 = gradient retouch (dHash-only),
    // and the two twins of one image are transitively near (dham ≤ 2,
    // gap 20000) — so the output is EXACTLY 144 deterministic pairs,
    // every one found through the real PNG decode; pristine cross
    // distances are ≥ 8 in BOTH metrics (measured over all 10k pairs).
    QueryDef.sql(
      "m10_image_near_dup_pairs",
      """WITH gk AS (SELECT t.id, u.gy, v.gx, ((t.id*64 + u.gy*8 + v.gx + 1) * 2654435761) % 1000000007 AS m
        |           FROM range(48) t(id), range(8) u(gy), range(8) v(gx)),
        |g0 AS (SELECT id, gy, gx, (m * m) % 1000000007 % 256 AS b FROM gk),
        |g AS (SELECT id, gy, gx, b FROM g0
        |      UNION ALL
        |      SELECT id + 10000, gy, gx, CASE WHEN gy = 0 AND gx = 0 THEN (b + 8) % 256 ELSE b END FROM g0
        |      UNION ALL
        |      SELECT id + 30000, gy, gx, (b * 5) // 8 + (gy % 2) * 88 FROM g0),
        |a AS (SELECT id, SUM(b) // 64 AS avg FROM g GROUP BY id),
        |ah AS (SELECT g.id,
        |        CAST(SUM(CASE WHEN b > a.avg AND gy*8+gx >= 32 THEN (CAST(1 AS BIGINT) << CAST(gy*8+gx-32 AS INT)) ELSE 0 END) AS BIGINT) AS hi,
        |        CAST(SUM(CASE WHEN b > a.avg AND gy*8+gx < 32 THEN (CAST(1 AS BIGINT) << CAST(gy*8+gx AS INT)) ELSE 0 END) AS BIGINT) AS lo
        |       FROM g JOIN a USING (id) GROUP BY g.id),
        |dd AS (SELECT l.id, CAST(SUM(CASE WHEN l.b > r.b THEN (CAST(1 AS BIGINT) << CAST(l.gy*7+l.gx AS INT)) ELSE 0 END) AS BIGINT) AS dh
        |      FROM g l JOIN g r ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
        |      WHERE l.gx < 7 GROUP BY l.id),
        |h AS (SELECT ah.id, ah.hi, ah.lo, dd.dh FROM ah JOIN dd ON dd.id = ah.id),
        |bands AS (SELECT id, hi, lo, dh, bi.bi,
        |            CASE bi.bi WHEN 0 THEN lo & 65535 WHEN 1 THEN lo >> 16
        |                       WHEN 2 THEN hi & 65535 WHEN 3 THEN hi >> 16
        |                       WHEN 4 THEN dh & 16383 WHEN 5 THEN (dh >> 14) & 16383
        |                       WHEN 6 THEN (dh >> 28) & 16383 ELSE dh >> 42 END AS bv
        |          FROM h, LATERAL (SELECT unnest(range(8)) AS bi) bi),
        |cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
        |         FROM bands x JOIN bands y ON x.bi = y.bi AND x.bv = y.bv AND x.id < y.id)
        |SELECT c.id_a, c.id_b,
        |       CAST(bit_count(xor(xa.hi, xb.hi)) + bit_count(xor(xa.lo, xb.lo)) AS INT) AS a_hamming,
        |       CAST(bit_count(xor(xa.dh, xb.dh)) AS INT) AS d_hamming,
        |       CASE c.id_b - c.id_a WHEN 10000 THEN 'bump' WHEN 20000 THEN 'twin_pair'
        |            WHEN 30000 THEN 'gradient' ELSE 'none' END AS kind
        |FROM cand c JOIN h xa ON xa.id = c.id_a JOIN h xb ON xb.id = c.id_b
        |WHERE bit_count(xor(xa.hi, xb.hi)) + bit_count(xor(xa.lo, xb.lo)) <= 6
        |   OR bit_count(xor(xa.dh, xb.dh)) <= 6""".stripMargin) { (spark, _) =>
      import graft.multimodal.Multimodal
      val base = Multimodal.synthesizePngCorpus(spark, 48, scale = 2)
      val bumped = Multimodal.synthesizePngCorpus(
        spark, 48, scale = 2, idOffset = 10000L, bump = 8)
      val graded = Multimodal.synthesizePngCorpus(
        spark, 48, scale = 2, idOffset = 30000L, rowShift = 88)
      val h = Multimodal.perceptualHashes(base.unionAll(bumped).unionAll(graded))
        .select(col("media_id").as("id"), col("ahash_hi").as("hi"),
          col("ahash_lo").as("lo"), col("dhash").as("dh"))
      val bands = h.select(col("id"), col("hi"), col("lo"), col("dh"),
          explode(array(
            struct(lit(0).as("bi"), (col("lo").bitwiseAND(lit(65535L))).as("bv")),
            struct(lit(1).as("bi"), shiftright(col("lo"), 16).as("bv")),
            struct(lit(2).as("bi"), (col("hi").bitwiseAND(lit(65535L))).as("bv")),
            struct(lit(3).as("bi"), shiftright(col("hi"), 16).as("bv")),
            struct(lit(4).as("bi"), (col("dh").bitwiseAND(lit(16383L))).as("bv")),
            struct(lit(5).as("bi"), (shiftright(col("dh"), 14).bitwiseAND(lit(16383L))).as("bv")),
            struct(lit(6).as("bi"), (shiftright(col("dh"), 28).bitwiseAND(lit(16383L))).as("bv")),
            struct(lit(7).as("bi"), shiftright(col("dh"), 42).as("bv")))).as("band"))
        .select(col("id"), col("hi"), col("lo"), col("dh"),
          col("band.bi").as("bi"), col("band.bv").as("bv"))
      val x = bands.alias("x")
      val y = bands.alias("y")
      val cand = x.join(y,
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          col("x.hi").as("ha"), col("x.lo").as("la"), col("x.dh").as("da"),
          col("y.hi").as("hb"), col("y.lo").as("lb"), col("y.dh").as("db"))
        .distinct()
      cand
        .select(col("id_a"), col("id_b"),
          (bit_count(col("ha").bitwiseXOR(col("hb"))) +
            bit_count(col("la").bitwiseXOR(col("lb")))).cast("int").as("a_hamming"),
          bit_count(col("da").bitwiseXOR(col("db"))).cast("int").as("d_hamming"),
          when(col("id_b") - col("id_a") === 10000L, "bump")
            .when(col("id_b") - col("id_a") === 20000L, "twin_pair")
            .when(col("id_b") - col("id_a") === 30000L, "gradient")
            .otherwise("none").as("kind"))
        .filter(col("a_hamming") <= 6 || col("d_hamming") <= 6)
    },

    // T53: overlapping token-window CHUNKING — the splitter every
    // embedding/retrieval pipeline runs before vectorizing (window 32,
    // stride 24 ⇒ 8-token overlap so no boundary context is lost): chunk
    // k covers [k·S, k·S+W); a tail window fully contained in its
    // predecessor is NOT emitted (k > 0 requires the previous chunk to
    // end before the doc does — the standard dedup rule that keeps
    // chunk_idx dense and the last chunk ≥ W−S tokens... unless the doc
    // itself is shorter). Zero UDFs: one sequence+explode for k (fan-out
    // ≤ ⌈n/S⌉ per doc), native slice + array_join for the text — a
    // narrow scan-shaped op. The gate hashes the FULL chunk texts and
    // spans, so an off-by-one at either window edge fails on values.
    QueryDef.sql(
      "t53_doc_chunking",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts,
        |                  len(string_split_regex(lower(trim(text)), '\s+')) AS n
        |           FROM documents),
        |k AS (SELECT doc_id, ts, n, kk.k FROM t,
        |      LATERAL (SELECT unnest(range(0, greatest((n + 23) // 24, 1))) AS k) kk),
        |c AS (SELECT * FROM k WHERE k = 0 OR (k - 1) * 24 + 32 < n)
        |SELECT doc_id, CAST(k AS INT) AS chunk_idx, CAST(k * 24 AS BIGINT) AS tok_start,
        |  CAST(least(32, n - k * 24) AS BIGINT) AS n_tokens,
        |  array_to_string(ts[k*24+1 : least(k*24+32, n)], ' ') AS chunk_text
        |FROM c""".stripMargin) { (spark, dir) =>
      val w = 32
      val s = 24
      val t = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.expr.WordShingleStrings(col("text"), 1, distinct = false).as("ts"))
        .withColumn("n", size(col("ts")).cast("long"))
        .filter(col("n") > 0)
      t.withColumn("k",
          explode(sequence(lit(0L), greatest(expr(s"(n + ${s - 1}) div $s") - 1L, lit(0L)))))
        .filter(col("k") === 0L || (col("k") - 1L) * s + w < col("n"))
        .select(col("doc_id"),
          col("k").cast("int").as("chunk_idx"),
          (col("k") * s).cast("long").as("tok_start"),
          least(lit(w.toLong), col("n") - col("k") * s).as("n_tokens"),
          array_join(
            slice(col("ts"), (col("k") * s + 1).cast("int"),
              least(lit(w.toLong), col("n") - col("k") * s).cast("int")), " ")
            .as("chunk_text"))
    },

    // T54: token-BUDGET selection — "give me the best 10k tokens": order
    // the corpus by quality-per-token (the exact-integer stopword ratio,
    // ·1e6 div n — no IEEE boundary cliff) with doc_id as the total-order
    // tie-break, then greedily take docs while the running token total
    // fits the budget. The running total is [[PrefixSum]] again but on a
    // DESCENDING score order (the operator's other half: a23/t39 use
    // ascending) — bucketed, never a SinglePartition window, so the
    // selection scales to corpora where "the best B tokens" is a real
    // curation decision rather than a sort on one machine.
    QueryDef.sql(
      "t54_token_budget_selection",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |q AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
        |        CAST((len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) * 1000000) // len(ts) AS BIGINT) AS score_fp
        |      FROM t WHERE len(ts) > 0),
        |w AS (SELECT doc_id, score_fp, n_tok,
        |        CAST(SUM(n_tok) OVER (ORDER BY score_fp DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
        |      FROM q)
        |SELECT doc_id, score_fp, n_tok, cum_tok FROM w WHERE cum_tok <= 10000""".stripMargin) { (spark, dir) =>
      val stop = size(filter(col("ts"),
        t => t.isin("the", "a", "of", "and", "is"))).cast("long")
      val q = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.expr.WordShingleStrings(col("text"), 1, distinct = false).as("ts"))
        .filter(size(col("ts")) > 0)
        .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
          stop.as("__stop"))
        .select(col("doc_id"), col("n_tok"),
          expr("(__stop * 1000000) div n_tok").as("score_fp"))
      graft.operators.PrefixSum.withRunningSum(
        q, "score_fp", descending = true, tieBreak = Seq(col("doc_id")),
        value = col("n_tok"), out = "cum_tok")
        .filter(col("cum_tok") <= 10000L)
        .select(col("doc_id"), col("score_fp"), col("n_tok"), col("cum_tok"))
    },

    // T55: per-OWNER crawl/dedup quota report — the policy unit t50's
    // eTLD+1 exists for: docs per registered domain, the quota-capped
    // keep count (Q=100 — the t13 per-source cap at owner granularity),
    // the over-quota flag, and each owner's exact-integer corpus share
    // (·1e6 div total — no IEEE division). The fixture derives six host
    // shapes from the corpus so the FULL-PSL matcher runs in aggregate:
    // two shapes share an owner (www./api. → example.com, the over-quota
    // case), multi-label and private suffixes collapse per rule, and the
    // wildcard *.ck shape yields a DIFFERENT owner per source (the
    // long-tail case). One narrow map + one groupBy + a 1-row total
    // fold; the oracle re-derives eTLD+1 with the PSL SQL block.
    QueryDef.sql(
      "t55_domain_quota",
      s"""WITH hh AS (SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'www.' || source || '.example.com'
        |    WHEN 1 THEN source || '.example.co.uk'
        |    WHEN 2 THEN source || '.pages.github.io'
        |    WHEN 3 THEN 'api.' || source || '.example.com'
        |    WHEN 4 THEN 'www.' || source || '.behind.ck'
        |    ELSE 'www.' || source || '.sub.example.org' END AS host
        |  FROM documents),
        |rul AS (SELECT CASE WHEN line LIKE '!%' THEN substring(line, 2)
        |                    WHEN line LIKE '*.%' THEN substring(line, 3)
        |                    ELSE line END AS key,
        |               CASE WHEN line LIKE '!%' THEN 2 WHEN line LIKE '*.%' THEN 1 ELSE 0 END AS kind
        |        FROM (SELECT trim(x) AS line FROM
        |               (SELECT unnest(string_split(content, chr(10))) AS x
        |                FROM read_text('$pslPath')))
        |        WHERE line <> '' AND NOT line LIKE '//%'),
        |cap AS (SELECT MAX(len(string_split(key, '.'))) AS c FROM rul),
        |hls AS (SELECT doc_id, host, string_split(host, '.') AS ls, cap.c AS cap_c FROM hh, cap),
        |cand AS (SELECT doc_id, len(ls) AS n, kk.k,
        |           list_aggr(ls[len(ls)-kk.k+1 : len(ls)], 'string_agg', '.') AS suf
        |         FROM hls, LATERAL (SELECT unnest(range(1, least(len(ls), cap_c) + 1)) AS k) kk),
        |mm AS (SELECT c.doc_id,
        |         MAX(CASE WHEN r.kind = 0 THEN c.k WHEN r.kind = 1 AND c.n >= c.k + 1 THEN c.k + 1 END) AS ps_n,
        |         MAX(CASE WHEN r.kind = 2 THEN c.k - 1 END) AS ps_e
        |       FROM cand c JOIN rul r ON r.key = c.suf GROUP BY 1),
        |ee AS (SELECT h.doc_id, h.host, h.ls, len(h.ls) AS n, COALESCE(mm.ps_e, mm.ps_n, 1) AS ps
        |       FROM hls h LEFT JOIN mm ON mm.doc_id = h.doc_id),
        |ed AS (SELECT doc_id, CASE WHEN n <= ps THEN host
        |                           ELSE list_aggr(ls[n - ps : n], 'string_agg', '.') END AS etld1 FROM ee),
        |agg AS (SELECT etld1, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ed GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM agg)
        |SELECT etld1, n_docs, CAST(least(n_docs, 100) AS BIGINT) AS n_kept,
        |  n_docs > 100 AS over_quota, CAST((n_docs * 1000000) // t AS BIGINT) AS share_fp
        |FROM agg CROSS JOIN tot""".stripMargin) { (spark, dir) =>
      import graft.functions.UrlNorm
      val m = pmod(col("doc_id"), lit(6L))
      val host = when(m === 0, concat(lit("www."), col("source"), lit(".example.com")))
        .when(m === 1, concat(col("source"), lit(".example.co.uk")))
        .when(m === 2, concat(col("source"), lit(".pages.github.io")))
        .when(m === 3, concat(lit("api."), col("source"), lit(".example.com")))
        .when(m === 4, concat(lit("www."), col("source"), lit(".behind.ck")))
        .otherwise(concat(lit("www."), col("source"), lit(".sub.example.org")))
      val agg = Tables.load(spark, dir, "documents")
        .select(UrlNorm.registeredDomain(host).as("etld1"))
        .groupBy(col("etld1")).agg(count(lit(1)).as("n_docs"))
      val tot = agg.agg(sum(col("n_docs")).as("t"))
      agg.crossJoin(broadcast(tot))
        .select(col("etld1"), col("n_docs"),
          least(col("n_docs"), lit(100L)).as("n_kept"),
          (col("n_docs") > 100L).as("over_quota"),
          expr("(n_docs * 1000000) div t").as("share_fp"))
    },

    // T82: NAMED-agent group selection (RobotsTxt.agentGroupRules — the
    // RFC 9309 §2.2.1 rule t61's star-only view skipped): groups whose
    // User-agent equals the crawler's product token case-insensitively
    // are chosen, MULTIPLE matches COMBINE, and domains that never name
    // the crawler fall back to their `*` group. Fixture: even-length
    // sources carry two 'graftbot' groups (one Disallow /g/ +
    // Crawl-delay, one spelled 'GraftBot' with Allow /g/pub — the
    // combine AND the case fold are load-bearing) plus a star group
    // whose /x/ rule must NOT leak into the named view; odd-length
    // sources have only the star group. Verdicts for agent 'GraftBot':
    // the oracle states every row closed-form from (parity, doc_id%4) —
    // a selector that prefix-matches, skips the second named group, or
    // lets the star rules bleed through fails on a value.
    QueryDef.sql(
      "t82_robots_agent_groups",
      """WITH d AS (SELECT doc_id, source, strlen(source) % 2 = 0 AS named,
        |  CAST(doc_id % 4 AS INT) AS m FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS id, source AS domain,
        |  CASE m WHEN 0 THEN '/g/a' WHEN 1 THEN '/g/pub/f'
        |         WHEN 2 THEN '/x/a' ELSE '/ok' END AS path,
        |  CASE WHEN named AND m = 0 THEN 'disallow'
        |       WHEN named AND m = 1 THEN 'allow'
        |       WHEN NOT named AND m = 2 THEN 'disallow' END AS matched_kind,
        |  CASE WHEN named AND m = 0 THEN '/g/'
        |       WHEN named AND m = 1 THEN '/g/pub'
        |       WHEN NOT named AND m = 2 THEN '/x/' END AS matched_prefix,
        |  CASE WHEN named THEN CAST(7 AS BIGINT) END AS crawl_delay,
        |  NOT ((named AND m = 0) OR (NOT named AND m = 2)) AS allowed
        |FROM d""".stripMargin) { (spark, dir) =>
      import graft.functions.RobotsTxt
      val docs = Tables.load(spark, dir, "documents")
      val robots = docs.select(col("source").as("domain")).distinct()
        .select(col("domain"),
          when(octet_length(col("domain")) % 2 === 0, lit(
            "User-agent: graftbot\nDisallow: /g/\nCrawl-delay: 7\n\n" +
              "User-agent: GraftBot\nAllow: /g/pub\n\n" +
              "User-agent: *\nDisallow: /x/"))
            .otherwise(lit("User-agent: *\nDisallow: /x/")).as("txt"))
      val m4 = pmod(col("doc_id"), lit(4L))
      val urls = docs.select(col("doc_id").cast("long").as("id"),
        col("source").as("domain"),
        when(m4 === 0, "/g/a").when(m4 === 1, "/g/pub/f")
          .when(m4 === 2, "/x/a").otherwise("/ok").as("path"))
      RobotsTxt.verdicts(urls, "id", "domain", "path",
        RobotsTxt.agentGroupRules(robots, "domain", "txt", agent = "GraftBot"))
    },

    // T61: robots.txt crawl-permission verdicts (functions/RobotsTxt —
    // RFC 9309), completing the crawl-politeness family beside t50's
    // canonicalization and t55's per-owner quotas. The ENGINE parses
    // real robots.txt text relationally (group scoping via the lag/sum
    // windows, star-group selection, empty-Disallow drop, longest-match
    // + allow-on-tie resolution); the ORACLE states every verdict in
    // CLOSED FORM from doc_id%5 — it never parses — so the whole chain
    // must compose. The fixture makes each law load-bearing: a `special`
    // group's `Disallow: /` must be SCOPED AWAY (group detection), the
    // nested Allow must beat the shorter Disallow (longest match), the
    // equal-length /tie pair must resolve allow (tie law), the empty
    // Disallow must match nothing, and crawl_delay must reach UNMATCHED
    // urls too (domain property, not rule property).
    QueryDef.sql(
      "t61_robots_verdicts",
      """SELECT CAST(doc_id AS BIGINT) AS id, source AS domain,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN '/'
        |    WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN '/private/ok/p' || CAST(doc_id AS VARCHAR)
        |    WHEN 3 THEN '/pub/p' || CAST(doc_id AS VARCHAR)
        |    ELSE '/tie/x' || CAST(doc_id AS VARCHAR) END AS path,
        |  CASE CAST(doc_id % 5 AS INT) WHEN 1 THEN 'disallow'
        |    WHEN 2 THEN 'allow' WHEN 4 THEN 'allow' END AS matched_kind,
        |  CASE CAST(doc_id % 5 AS INT) WHEN 1 THEN '/private'
        |    WHEN 2 THEN '/private/ok' WHEN 4 THEN '/tie' END AS matched_prefix,
        |  CAST(1 + strlen(source) % 5 AS BIGINT) AS crawl_delay,
        |  doc_id % 5 <> 1 AS allowed
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.RobotsTxt
      val docs = Tables.load(spark, dir, "documents")
      val robots = docs.select(col("source").as("domain")).distinct()
        .select(col("domain"), concat(
          lit("User-agent: special\nDisallow: /\n\nUser-agent: *\nCrawl-delay: "),
          (lit(1) + octet_length(col("domain")) % 5),
          lit("\nDisallow: /private\nAllow: /private/ok\nDisallow:\nAllow: /tie\nDisallow: /tie"))
          .as("txt"))
      val m5 = pmod(col("doc_id"), lit(5L))
      val urls = docs.select(
        col("doc_id").cast("long").as("id"), col("source").as("domain"),
        when(m5 === 0, lit("/"))
          .when(m5 === 1, concat(lit("/private/p"), col("doc_id")))
          .when(m5 === 2, concat(lit("/private/ok/p"), col("doc_id")))
          .when(m5 === 3, concat(lit("/pub/p"), col("doc_id")))
          .otherwise(concat(lit("/tie/x"), col("doc_id"))).as("path"))
      RobotsTxt.verdicts(urls, "id", "domain", "path",
        RobotsTxt.starGroupRules(robots, "domain", "txt"))
    },

    // T63: robots.txt WILDCARD verdicts — the full RFC 9309 pattern
    // language (`*` any-octet-run, `$` end anchor) via the native
    // RobotsMatch expression, upgrading t61's literal-prefix subset.
    // Same contract shape as t61: the ENGINE parses real robots text and
    // matches with the greedy glob algorithm; the ORACLE states every
    // verdict in CLOSED FORM from doc_id%7 — two independent
    // formulations hash-compared. Each wildcard law is load-bearing in
    // the fixture: `/*.pdf$` must catch pdfs at ANY depth (class 0) but
    // NOT `.pdfz` (class 6 — the anchor), the longer-as-written
    // `/pub/*.pdf$` must beat it (class 1 — wildcards count toward
    // pattern length, the Googlebot convention), `/tmp*` must behave as
    // a plain prefix (class 2), the mid-pattern star `/a/*/b` must beat
    // the shorter literal `/a/` (class 3) while `/a/x…/c` falls back to
    // it (class 4), and `/exact$` must block the exact path (class 5)
    // without touching continuations.
    QueryDef.sql(
      "t63_robots_wildcards",
      """SELECT CAST(doc_id AS BIGINT) AS id, source AS domain,
        |  CASE CAST(doc_id % 7 AS INT)
        |    WHEN 0 THEN '/d' || CAST(doc_id AS VARCHAR) || '.pdf'
        |    WHEN 1 THEN '/pub/d' || CAST(doc_id AS VARCHAR) || '.pdf'
        |    WHEN 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
        |    WHEN 3 THEN '/a/x' || CAST(doc_id AS VARCHAR) || '/b'
        |    WHEN 4 THEN '/a/x' || CAST(doc_id AS VARCHAR) || '/c'
        |    WHEN 5 THEN '/exact'
        |    ELSE '/x' || CAST(doc_id AS VARCHAR) || '.pdfz' END AS path,
        |  CASE CAST(doc_id % 7 AS INT)
        |    WHEN 0 THEN 'disallow' WHEN 1 THEN 'allow' WHEN 2 THEN 'disallow'
        |    WHEN 3 THEN 'allow' WHEN 4 THEN 'disallow' WHEN 5 THEN 'disallow'
        |    END AS matched_kind,
        |  CASE CAST(doc_id % 7 AS INT)
        |    WHEN 0 THEN '/*.pdf$' WHEN 1 THEN '/pub/*.pdf$' WHEN 2 THEN '/tmp*'
        |    WHEN 3 THEN '/a/*/b' WHEN 4 THEN '/a/' WHEN 5 THEN '/exact$'
        |    END AS matched_prefix,
        |  CAST(1 + strlen(source) % 5 AS BIGINT) AS crawl_delay,
        |  doc_id % 7 = 1 OR doc_id % 7 = 3 OR doc_id % 7 = 6 AS allowed
        |FROM documents""".stripMargin) { (spark, dir) =>
      import graft.functions.RobotsTxt
      val docs = Tables.load(spark, dir, "documents")
      val robots = docs.select(col("source").as("domain")).distinct()
        .select(col("domain"), concat(
          lit("User-agent: *\nCrawl-delay: "),
          (lit(1) + octet_length(col("domain")) % 5),
          lit("\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\nDisallow: /tmp*" +
            "\nAllow: /a/*/b\nDisallow: /a/\nDisallow: /exact$"))
          .as("txt"))
      val m7 = pmod(col("doc_id"), lit(7L))
      val urls = docs.select(
        col("doc_id").cast("long").as("id"), col("source").as("domain"),
        when(m7 === 0, concat(lit("/d"), col("doc_id"), lit(".pdf")))
          .when(m7 === 1, concat(lit("/pub/d"), col("doc_id"), lit(".pdf")))
          .when(m7 === 2, concat(lit("/tmp/x"), col("doc_id")))
          .when(m7 === 3, concat(lit("/a/x"), col("doc_id"), lit("/b")))
          .when(m7 === 4, concat(lit("/a/x"), col("doc_id"), lit("/c")))
          .when(m7 === 5, lit("/exact"))
          .otherwise(concat(lit("/x"), col("doc_id"), lit(".pdfz"))).as("path"))
      RobotsTxt.verdicts(urls, "id", "domain", "path",
        RobotsTxt.starGroupRules(robots, "domain", "txt"))
    },

    // T75: T5-style span corruption (functions/SpanCorruption — the
    // denoising objective's data prep): masked RUNS collapse to one
    // sentinel in the input, the target lists each sentinel + its
    // hidden tokens + the terminator sentinel. The mask rule pos%7 ∈
    // {3,4} makes every invariant load-bearing on real text: adjacent
    // masked positions MERGE into one sentinel (a per-position
    // sentinel would double-count), truncated tails give 1-token runs,
    // sentinel numbering is per-doc 0-based in order, and the oracle
    // re-derives the whole transformation RELATIONALLY in DuckDB (lag
    // run-heads + running sum + ordered string_agg — a genuine second
    // implementation of the gaps-and-islands mechanics).
    QueryDef.sql(
      "t75_span_corruption",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
        |m AS (SELECT *, (pos % 7) IN (3, 4) AS msk FROM e),
        |r AS (SELECT *, CASE WHEN msk AND NOT COALESCE(
        |        lag(msk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
        |      THEN 1 ELSE 0 END AS rh FROM m),
        |s AS (SELECT *, SUM(rh) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM r),
        |ip AS (SELECT doc_id, pos, CASE WHEN NOT msk THEN tok WHEN rh = 1
        |        THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>' END AS piece FROM s),
        |inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS input_text
        |        FROM ip WHERE piece IS NOT NULL GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |        CAST(SUM(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |        CAST(MAX(span_id) AS BIGINT) AS n_spans FROM s GROUP BY 1),
        |tp AS (SELECT doc_id, span_id,
        |        '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '> ' ||
        |          string_agg(tok, ' ' ORDER BY pos) AS seg
        |        FROM s WHERE msk GROUP BY 1, 2),
        |tg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY span_id) AS tgt FROM tp GROUP BY 1)
        |SELECT a.doc_id, a.n_tokens, a.n_masked, a.n_spans, i.input_text,
        |  COALESCE(t.tgt || ' ', '') || '<extra_id_' || CAST(a.n_spans AS VARCHAR) || '>' AS target_text
        |FROM agg a JOIN inp i ON a.doc_id = i.doc_id
        |LEFT JOIN tg t ON a.doc_id = t.doc_id""".stripMargin) { (spark, dir) =>
      graft.functions.SpanCorruption.corrupt(
        Tables.load(spark, dir, "documents"), "doc_id", "text",
        pmod(col("pos"), lit(7)).isin(3, 4))
    },

    // T76: BERT-style MLM masking (Devlin et al. 2018 §3.1 — the OTHER
    // published masking objective beside t75's span corruption): 20% of
    // positions are prediction targets (pos%5==0 here — production uses
    // a seeded hash rate), and each target is 80% [MASK] / 10% a
    // replacement token / 10% left UNCHANGED — the trick that forces
    // the model to keep real-token representations honest. The variant
    // choice is (pos div 5) % 10 so the oracle replays it; the
    // unchanged-but-still-a-label case is load-bearing (an
    // implementation deriving labels from input-vs-original diffs
    // loses exactly those and fails the hash). labels_text carries the
    // original token at every target in order.
    QueryDef.sql(
      "t76_mlm_masking",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i)),
        |m AS (SELECT doc_id, pos, tok, pos % 5 = 0 AS tgt,
        |        (pos // 5) % 10 AS var FROM e),
        |p AS (SELECT doc_id, pos, tok, tgt,
        |        CASE WHEN NOT tgt THEN tok
        |             WHEN var < 8 THEN '[MASK]'
        |             WHEN var = 8 THEN 'the'
        |             ELSE tok END AS piece FROM m)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS n_targets,
        |  string_agg(piece, ' ' ORDER BY pos) AS input_text,
        |  COALESCE(string_agg(CASE WHEN tgt THEN tok END, ' ' ORDER BY pos), '') AS labels_text
        |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.load(spark, dir, "documents").select(col("doc_id"),
        posexplode(graft.functions.TextTokens.tokens(col("text"))).as(Seq("pos", "tok")))
      val tgt = pmod(col("pos"), lit(5)) === 0
      val variant = pmod(expr("pos div 5"), lit(10))
      val p = toks.select(col("doc_id"), col("pos"), col("tok"), tgt.as("tgt"),
        when(!tgt, col("tok"))
          .when(variant < 8, lit("[MASK]"))
          .when(variant === 8, lit("the"))
          .otherwise(col("tok")).as("piece"))
      p.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        sum(col("tgt").cast("long")).as("n_targets"),
        array_join(array_sort(collect_list(struct(col("pos"), col("piece"))))
          .getField("piece"), " ").as("input_text"),
        array_join(array_sort(collect_list(when(col("tgt"),
          struct(col("pos"), col("tok"))))).getField("tok"), " ").as("labels_text"))
    },

    // T73: rule-based sentence segmentation — the primitive under C4's
    // real 5-sentence floor and span-level dedup: a boundary is a
    // terminal-punctuation run followed by whitespace (the documented
    // subset; abbreviation handling is a model problem, not a rule
    // problem), implemented as ONE regexp_replace planting a 
    // sentinel after each boundary + ONE split — the same two calls in
    // both engines' dialects ($1 vs \1 backrefs), so the boundary rule
    // itself is cross-checked. The tail after the last boundary is a
    // sentence (the doc's own unpunctuated text rides there, putting
    // real data in every hash row). Positions are 1-based document
    // order; a shuffle never happens — posexplode rides the scan.
    QueryDef.sql(
      "t73_sentence_segments",
      """WITH d AS (SELECT doc_id,
        |  'First one. Second two! Is three? Hey!? Tail ' || text AS body
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  string_split(regexp_replace(body, '([.!?])\s+', '\1' || chr(1), 'g'),
        |               chr(1)) AS sents FROM d)
        |SELECT doc_id, CAST(i AS INT) AS sent_idx, sents[i] AS sentence,
        |  CAST(length(sents[i]) AS BIGINT) AS n_chars
        |FROM s, LATERAL (SELECT unnest(range(1, len(sents) + 1)) AS i)""".stripMargin) { (spark, dir) =>
      val body = concat(lit("First one. Second two! Is three? Hey!? Tail "), col("text"))
      val sents = split(
        regexp_replace(body, "([.!?])\\s+", "$1\u0001"), "\u0001")
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), posexplode(sents).as(Seq("__p", "sentence")))
        .select(col("doc_id"), (col("__p") + 1).cast("int").as("sent_idx"),
          col("sentence"), length(col("sentence")).cast("long").as("n_chars"))
    },

    // T77: sitemap discovery (functions/Sitemaps — the sitemaps.org
    // protocol): robots.txt advertises Sitemap: URLs (case-insensitive
    // key, file order), each a <urlset> whose <loc>/<lastmod> entries
    // the regexp-subset parser reads with the spec's &amp; escaping
    // decoded. The CHAIN is load-bearing: each domain's robots text is
    // parsed for its two sitemap URLs, the sitemap INDEX drives which
    // XML body is fetched (rebuilt from the discovered URL itself — a
    // discovery that returned the wrong URL or order fetches the wrong
    // urlset and fails on values), entries keep document order, a
    // missing lastmod is NULL, and the planted &amp; query-string loc
    // must decode. Output is domain-cardinality (crawl-frontier scale),
    // not corpus scale.
    QueryDef.sql(
      "t77_sitemap_discovery",
      """WITH d AS (SELECT DISTINCT source AS domain FROM documents),
        |k AS (SELECT domain, unnest([0, 1]) AS k FROM d),
        |u AS (SELECT domain, k, 0 AS url_idx, '/p0' AS path,
        |         '2024-01-01' AS lastmod FROM k WHERE k = 0
        |  UNION ALL SELECT domain, k, 1, '/p1&x=2', NULL FROM k WHERE k = 0
        |  UNION ALL SELECT domain, k, 2, '/p2', '2024-02-03' FROM k WHERE k = 0
        |  UNION ALL SELECT domain, k, 0, '/q0', NULL FROM k WHERE k = 1
        |  UNION ALL SELECT domain, k, 1, '/q1', '2024-03-04' FROM k WHERE k = 1)
        |SELECT domain, CAST(k AS INT) AS sitemap_idx,
        |  'https://' || domain || '.example.com/sm/' || CAST(k AS VARCHAR) || '.xml' AS sitemap_url,
        |  CAST(url_idx AS INT) AS url_idx,
        |  'https://' || domain || '.example.com' || path AS loc, lastmod
        |FROM u""".stripMargin) { (spark, dir) =>
      import graft.functions.Sitemaps
      val robots = Tables.load(spark, dir, "documents")
        .select(col("source").as("domain")).distinct()
        .select(col("domain"), concat(
          lit("User-agent: *\nDisallow: /private\nSiteMap: https://"),
          col("domain"), lit(".example.com/sm/0.xml\nsitemap: https://"),
          col("domain"), lit(".example.com/sm/1.xml")).as("txt"))
      val sm = Sitemaps.sitemapUrls(robots, "domain", "txt")
      // "fetch": the xml body is rebuilt from the DISCOVERED url, so a
      // wrong discovery fetches the wrong urlset
      val base = concat(lit("https://"), col("domain"), lit(".example.com"))
      val xml = when(col("sitemap_url").endsWith("/sm/0.xml"), concat(
          lit("<urlset><url><loc>"), base, lit("/p0</loc><lastmod>2024-01-01</lastmod></url>"),
          lit("<url><loc>"), base, lit("/p1&amp;x=2</loc></url>"),
          lit("<url><loc>"), base, lit("/p2</loc><lastmod>2024-02-03</lastmod></url></urlset>")))
        .otherwise(concat(
          lit("<urlset><url><loc>"), base, lit("/q0</loc></url>"),
          lit("<url><loc>"), base, lit("/q1</loc><lastmod>2024-03-04</lastmod></url></urlset>")))
      sm.withColumn("__xml", xml)
        .select(col("domain"), col("sitemap_idx"), col("sitemap_url"),
          posexplode(Sitemaps.urlsetEntries(col("__xml"))).as(Seq("url_idx", "e")))
        .select(col("domain"), col("sitemap_idx"), col("sitemap_url"),
          col("url_idx").cast("int").as("url_idx"),
          col("e.loc").as("loc"), col("e.lastmod").as("lastmod"))
    },

    // T71: politeness fetch scheduling — the step AFTER a robots verdict
    // in a real crawler: allowed URLs serialize per domain at the
    // domain's Crawl-delay cadence, so each URL gets a deterministic
    // fetch slot fetch_at_s = (rank−1)·delay and the domain's makespan
    // is (n−1)·delay. Composes the REAL RobotsTxt parse+verdict chain
    // (the /private class drops BEFORE ranking — a scheduler that ranks
    // then filters leaves silent gaps in the cadence and fails the
    // hash); one window shuffle on the domain key, arithmetic rides it.
    QueryDef.sql(
      "t71_fetch_schedule",
      """WITH u AS (SELECT doc_id, source,
        |  1 + strlen(source) % 5 AS delay FROM documents WHERE doc_id % 3 <> 1),
        |r AS (SELECT doc_id, source, delay,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk FROM u)
        |SELECT doc_id AS id, source AS domain, CAST(rk AS BIGINT) AS rank_in_domain,
        |  CAST(delay AS BIGINT) AS crawl_delay,
        |  CAST((rk - 1) * delay AS BIGINT) AS fetch_at_s
        |FROM r""".stripMargin) { (spark, dir) =>
      import graft.functions.RobotsTxt
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(spark, dir, "documents")
      val robots = docs.select(col("source").as("domain")).distinct()
        .select(col("domain"), concat(
          lit("User-agent: *\nCrawl-delay: "),
          (lit(1) + octet_length(col("domain")) % 5),
          lit("\nDisallow: /private")).as("txt"))
      val m3 = pmod(col("doc_id"), lit(3L))
      val urls = docs.select(col("doc_id").cast("long").as("id"),
        col("source").as("domain"),
        when(m3 === 1, concat(lit("/private/p"), col("doc_id")))
          .otherwise(concat(lit("/pub/p"), col("doc_id"))).as("path"))
      val v = RobotsTxt.verdicts(urls, "id", "domain", "path",
        RobotsTxt.starGroupRules(robots, "domain", "txt"))
      val w = Window.partitionBy(col("domain")).orderBy(col("id"))
      v.filter(col("allowed"))
        .withColumn("rank_in_domain", row_number().over(w).cast("long"))
        .select(col("id"), col("domain"), col("rank_in_domain"),
          col("crawl_delay"),
          ((col("rank_in_domain") - 1) * col("crawl_delay")).as("fetch_at_s"))
    },

    // T41: inter-annotator agreement — Cohen's kappa per source over two
    // deterministic binary "annotators" (a char-length rule and a
    // token-count rule standing in for two labeling passes; on real data
    // these are two raters' label columns). The whole statistic reduces
    // to ONE aggregate over four exact counts per group, and kappa is a
    // SINGLE division of exact integers — kappa = (n·agree − chance) /
    // (n² − chance) with chance = a1·b1 + a0·b0 — so both engines round
    // identically (the repo's oracle-safe-math rule: one correctly-rounded
    // IEEE op over exact integers). Group-count shuffle only; label
    // derivation rides the scan.
    QueryDef.sql(
      "t41_annotator_agreement",
      """WITH t AS (SELECT source,
        |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) >= 40
        |         THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS BIGINT) AS a1, CAST(SUM(b) AS BIGINT) AS b1,
        |    CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |  FROM t GROUP BY 1)
        |SELECT source, n, agree, a1 AS rater_a_pos, b1 AS rater_b_pos,
        |  CASE WHEN n * n <> a1 * b1 + (n - a1) * (n - b1)
        |    THEN round(CAST(n * agree - (a1 * b1 + (n - a1) * (n - b1)) AS DOUBLE) /
        |               (n * n - (a1 * b1 + (n - a1) * (n - b1))), 6) END AS kappa
        |FROM c""".stripMargin) { (spark, dir) =>
      val t = Tables.load(spark, dir, "documents").select(
        col("source"),
        when(col("n_chars") >= 200, 1L).otherwise(0L).as("a"),
        when(TextAnalysis.tokenCountWs(col("text")) >= 40, 1L).otherwise(0L).as("b"))
      val c = t.groupBy(col("source")).agg(
        count(lit(1)).as("n"), sum(col("a")).as("a1"), sum(col("b")).as("b1"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"))
      // each factor cast to double BEFORE multiplying (the a35-lift rule):
      // kappa is an IEEE division anyway, and a BIGINT n·n at per-source
      // counts past ~3e9 rows would throw under ANSI overflow instead of
      // dividing; products below 2^53 stay exactly representable, so the
      // gate values are unchanged
      val nD = col("n").cast("double")
      val chance = col("a1").cast("double") * col("b1").cast("double") +
        (nD - col("a1").cast("double")) * (nD - col("b1").cast("double"))
      c.select(col("source"), col("n"), col("agree"),
        col("a1").as("rater_a_pos"), col("b1").as("rater_b_pos"),
        // a group where chance agreement is certain (pe = 1) has no
        // defined kappa — emit NULL instead of a cross-engine-divergent
        // division by zero
        when(nD * nD =!= chance,
          round((nD * col("agree").cast("double") - chance) /
            (nD * nD - chance), 6)).as("kappa"))
    },

    // TF-IDF top terms per document — the classic distributed text-weighting
    // pipeline: explode terms → per-doc term frequencies (shuffle 1) →
    // document frequencies (shuffle 2) → score join (term-keyed; the DF side
    // is vocabulary-sized, broadcast-able) → per-doc top-3 window (shuffle 3).
    // The corpus count joins in as a 1-row broadcast aggregate, never a
    // driver-side scalar pulled mid-plan.
    QueryDef.sql(
      "t11_tfidf_top_terms",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, len(ts) AS n_tokens, unnest(ts) AS term FROM t),
        |tf AS (SELECT doc_id, term, n_tokens, COUNT(*) AS cnt FROM e GROUP BY 1, 2, 3),
        |idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM t),
        |s AS (SELECT tf.doc_id, tf.term,
        |        round((CAST(cnt AS DOUBLE) / n_tokens) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |      FROM tf JOIN idf USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM s)
        |SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM r WHERE rk <= 3""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), graft.functions.TextTokens.tokens(col("text")).as("ts"))
      val e = docs.select(
        col("doc_id"), size(col("ts")).as("n_tokens"), explode(col("ts")).as("term"))
      val tf = e.groupBy(col("doc_id"), col("term"), col("n_tokens"))
        .agg(count(lit(1)).as("cnt"))
      // DF from TF, not from a second explode pass: tf is already distinct
      // on (doc, term), so df(term) = its row count — the exploded token
      // stream is scanned ONCE, and tf's own agg exchange is reused for
      // both consumers.
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("term"),
          round((col("cnt").cast("double") / col("n_tokens")) *
            log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
    },

    // Sequence packing: assign documents to fixed token-budget training
    // bins by a running pre-sum within each source shard. Distributed
    // posture: ONE window shuffle partitioned by the shard key — global
    // packing would serialize on a single partition. PARALLELISM == SHARD
    // CARDINALITY: `source` (4 values here) demonstrates the semantics; a
    // 100 TB job must pick a finer key (e.g. source × pmod(xxhash64(id),
    // k)) — bins are then per-shard, which packing tolerates by design
    // (any shard split yields valid, slightly-less-full bins).
    QueryDef.sql(
      "t10_sequence_pack",
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens FROM documents),
        |w AS (SELECT doc_id, source, n_tokens,
        |  coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
        |       CAST(cum_before AS BIGINT) AS cum_before,
        |       CAST(floor(cum_before / 512.0) AS INT) AS bin_id
        |FROM w""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0)).cast("long"))
        .withColumn("bin_id", floor(col("cum_before") / 512.0).cast("int"))
        .select("doc_id", "source", "n_tokens", "cum_before", "bin_id")
    },

    // Per-source quota sampling: keep at most N docs per source, chosen by
    // a deterministic hash order (md5 of the id — rerun/retry-stable, no
    // RNG state). The web-corpus "per-domain cap" curation step. Cap-N is
    // BOUNDED per key, so the window sort is safe here; at 100 TB with a
    // skewed key, swap the window for the bounded TopKByScore aggregate
    // (same map-side partial combine as w2's alternative).
    QueryDef.sql(
      "t13_source_quota_sample",
      """SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 10""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 10)
    },

    // Rare-token fraction: LM-free lexical quality signal — the share of a
    // doc's tokens whose CORPUS frequency is below half the mean term
    // frequency. The rare/common split is exact integer arithmetic: the
    // textbook form cf·vocab·2 < total overflows Long once cf·vocab passes
    // ~4.6e18 (realistic at corpus scale), so it is evaluated as the
    // equivalent-for-positive-integers cf < ceil(total / (2·vocab)) — the
    // operands stay bounded by `total` and the gate remains engine-portable;
    // only the final per-doc ratio is a float division. Same one-explode shape as
    // t11: the token stream is scanned once, term frequencies reuse its
    // exchange, and the corpus totals ride a 1-row broadcast.
    QueryDef.sql(
      "t14_rare_token_fraction",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, unnest(ts) AS term FROM t),
        |f AS (SELECT term, COUNT(*) AS cf FROM e GROUP BY 1),
        |s AS (SELECT CAST(SUM(cf) AS BIGINT) AS total, COUNT(*) AS vocab FROM f),
        |d AS (SELECT e.doc_id, COUNT(*) AS n_tokens,
        |        CAST(SUM(CASE WHEN cf < (total - 1) // (vocab * 2) + 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |      FROM e JOIN f USING (term) CROSS JOIN s GROUP BY 1)
        |SELECT doc_id, n_tokens, n_rare,
        |       round(CAST(n_rare AS DOUBLE) / n_tokens, 6) AS rare_fraction
        |FROM d""".stripMargin) { (spark, dir) =>
      val e = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextTokens.tokens(col("text"))).as("term"))
      // One pass over the exploded stream: per-(doc, term) counts first, so
      // the corpus frequency join and both per-doc sums run on the
      // compressed pair set, not the raw token stream.
      val tf = e.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
      val cf = tf.groupBy(col("term")).agg(sum(col("cnt")).as("cf"))
      val s = cf.agg(sum(col("cf")).as("total"), count(lit(1)).as("vocab"))
      tf.join(cf, "term")
        .crossJoin(broadcast(s))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).as("n_tokens"),
          sum(when(col("cf") < expr("(total - 1) div (vocab * 2) + 1"), col("cnt"))
            .otherwise(0L)).as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("n_rare"),
          round(col("n_rare").cast("double") / col("n_tokens"), 6).as("rare_fraction"))
    },

    // Corpus mixture planner: given per-source weights and a global char
    // budget (half the corpus here), compute the per-source sampling rate
    // that realizes the weighted mix — the "data mixing" step every
    // training pipeline runs before sampling (the rates feed t13/t6-style
    // hash samplers). Pure aggregate planning: one groupBy(source) shuffle
    // over pre-aggregated stats plus a 1-row broadcast of the totals —
    // corpus-size-independent output, so the plan is identical at 100 TB.
    // All divisions mirror DuckDB's left-to-right double evaluation and the
    // budget stays in exact integer arithmetic until the final ratio.
    QueryDef.sql(
      "t15_mixture_plan",
      """WITH s AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars,
        |                  CAST(CASE WHEN CAST(substr(source, 4, 10) AS INT) < 5 THEN 3.0 ELSE 1.0 END AS DOUBLE) AS weight
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(SUM(chars) AS BIGINT) AS total, SUM(weight) AS wsum FROM s)
        |SELECT source, chars, weight,
        |       round(least(1.0, weight / wsum * (total // 2) / chars), 6) AS rate,
        |       CAST(floor(round(least(1.0, weight / wsum * (total // 2) / chars), 6) * chars) AS BIGINT) AS planned_chars
        |FROM s CROSS JOIN t""".stripMargin) { (spark, dir) =>
      val s = Tables.load(spark, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).cast("long").as("chars"))
        .withColumn("weight",
          when(substring(col("source"), 4, 10).cast("int") < 5, lit(3.0))
            .otherwise(lit(1.0)))
      val t = s.agg(sum(col("chars")).cast("long").as("total"),
        sum(col("weight")).as("wsum"))
      val rate = round(
        least(lit(1.0), col("weight") / col("wsum") * expr("total div 2") / col("chars")), 6)
      s.crossJoin(broadcast(t))
        .withColumn("rate", rate)
        .select(col("source"), col("chars"), col("weight"), col("rate"),
          floor(col("rate") * col("chars")).cast("long").as("planned_chars"))
    },

    // Heavy hitters: exact top-20 tokens by document frequency — the
    // corpus-vocabulary profiling step (stopword discovery, boilerplate
    // tokens, tokenizer audits). Distinct-per-doc BEFORE the explode so a
    // token counts once per document, then a count aggregation whose
    // map-side partial combine absorbs the Zipf skew (the hot token's rows
    // collapse to one partial per task before the shuffle — no salting
    // needed for pure counts). Ties at the cut break on the token itself,
    // so the limit is deterministic.
    QueryDef.sql(
      "t16_heavy_hitters",
      """WITH e AS (SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS token FROM documents)
        |SELECT token, COUNT(*) AS df FROM e WHERE token <> ''
        |GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(explode(array_distinct(TextTokens.tokens(col("text")))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    },

    // Lexical diversity: per-document type-token ratio and hapax-legomenon
    // fraction — quality signals that catch keyword-stuffed and repetitive
    // machine-generated text that length/punctuation ratios (t2) miss.
    // Shape: explode → (doc_id, token) count → doc_id rollup. Two shuffles,
    // both on well-distributed keys (doc_id dominates both); at 100 TB this
    // is the canonical pattern — never per-row quadratic array scans.
    QueryDef.sql(
      "t17_lexical_diversity",
      """WITH e AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
        |tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM e WHERE token <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
        |  round(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS ttr,
        |  COUNT(CASE WHEN cnt = 1 THEN 1 END) AS n_hapax,
        |  round(CAST(COUNT(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS hapax_frac
        |FROM tc GROUP BY doc_id""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(TextTokens.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          round(count(lit(1)).cast("double") / sum(col("cnt")), 6).as("ttr"),
          count(when(col("cnt") === 1, 1)).as("n_hapax"),
          round(count(when(col("cnt") === 1, 1)).cast("double") / count(lit(1)), 6)
            .as("hapax_frac"))
    },

    // Frame-sample planning: deterministic evenly-spaced frame offsets,
    // surfaced as an oracled query over scalar metadata (n_chars stands in
    // for the frame count — the real pipeline runs this same arithmetic on
    // media metadata before any binary decode, so the PLAN is what must be
    // exact). offsets[i] =
    // floor(i·n/k): pure per-row expression work, scan-only, no shuffle;
    // the array serializes at the output boundary (a1/p23 flatten rule).
    QueryDef.sql(
      "m2_frame_sample_plan",
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_frames,
        |  array_to_string(list_transform(range(8), i -> CAST(CAST(floor(i * n_chars / 8.0) AS BIGINT) AS VARCHAR)), ',') AS frame_offsets
        |FROM documents""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        col("n_chars").cast("long").as("n_frames"),
        concat_ws(",",
          transform(sequence(lit(0), lit(7)),
            i => floor(i * col("n_chars") / 8.0).cast("long").cast("string")))
          .as("frame_offsets"))
    },

    // Deterministic train/val/test assignment: the split is a PURE FUNCTION
    // of the stable key (md5 of the id — identical hex in every engine), so
    // it is reproducible across reruns, engines, and data re-orders, and a
    // doc can never migrate between splits when the corpus grows — the
    // property RNG-based splits lack. Band edges are hex-prefix ranges on
    // the first two nibbles (256 buckets): 00-cb train (~79.7%), cc-e5 val
    // (~10.2%), e6-ff test (~10.2%). Scan-only, no shuffle; the summary agg
    // at the end is for the gate (per-split counts must reconcile).
    QueryDef.sql(
      "t18_hash_split",
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM s GROUP BY split""".stripMargin) { (spark, dir) =>
      val h = substring(md5(col("doc_id").cast("string")), 1, 2)
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    },

    // T19: corpus bigram collocations — top-20 token bigrams by raw count
    // with document-frequency support, ties broken lexicographically so the
    // limit is deterministic. The shingling reuses t8's wordShinglesAll
    // stream (duplicates KEPT: collocation strength needs raw counts, not
    // the dedup stream). Token convention: bigrams are SHINGLE-family
    // (t8/t19/t22/d4...), riding the raw whitespace split — a
    // whitespace-edge empty token participates in its bigram exactly as it
    // does in every other shingle query; the token-stats family
    // (t17/t20/t23/d22) filters empties instead. Documented divergence,
    // identical in the oracle. Shape at 100 TB: one scan+explode, one agg shuffle
    // keyed on the bigram whose map-side partial combine absorbs the Zipf
    // head, then a global top-20 (TakeOrdered — never a full sort).
    QueryDef.sql(
      "t19_bigram_collocations",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |b AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
        |        THEN list_transform(range(len(ts)-1), i -> ts[i+1] || ' ' || ts[i+2])
        |        ELSE [] END) AS bigram FROM t),
        |c AS (SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df FROM b GROUP BY 1)
        |SELECT bigram, n, df FROM c ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.expr.WordShingleStrings(
            col("text"), 2, distinct = false)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    },

    // T20: Count-Min-sketched token frequencies beside the exact counts —
    // the frequency member of the sketch family (HLL a11, GK a13, Bloom
    // j14). The sketch build is ONE distributed pass with fixed memory
    // (depth×width counters, merged by addition across partitions); at
    // 100 TB it replaces the full token counter table when only point
    // lookups are needed. The exact top-20 here is the gate's candidate
    // set + ground truth, not part of the sketch path. VALUE-CHECKED in
    // exact mode: DuckDB can't replay the CMS hash family, but at ε=1e-4
    // the width (~27k counters/row) dwarfs the test vocabularies, so every
    // heavy hitter sits alone in at least one sketch row and its estimate
    // EQUALS the exact count (verified collision-free at sf0.001/0.01/0.1;
    // AggSketchSpec pins the premise plus the overestimate-only + ε·N
    // bound + merge associativity that hold on any corpus). A corpus dense
    // enough to collide every sketch row would need this oracle reverted
    // to rows-only — the spec failing first is the intended tripwire.
    QueryDef.sql(
      "t20_cms_heavy_hitters",
      """WITH e AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS n FROM e WHERE token <> '' GROUP BY 1)
        |SELECT token, n, n AS cms_est FROM c ORDER BY n DESC, token LIMIT 20""".stripMargin) { (spark, dir) =>
      val toks = Tables.load(spark, dir, "documents")
        .select(explode(TextTokens.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val cms = graft.operators.CountMin.build(toks, "token", eps = 1e-4)
      toks.groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
        .select(col("token"), col("n"),
          graft.operators.CountMin.estimate(col("token"), cms).as("cms_est"))
    },

    // T21: weighted sampling without replacement (Efraimidis–Spirakis) —
    // 50 docs with inclusion probability ∝ n_chars, the primitive behind
    // size-aware corpus subsetting (t15's mixture planner decides rates;
    // this draws the actual rows). Deterministic: the competition key is a
    // pure function of (doc_id, seed, weight), so reruns/retries draw the
    // SAME sample. rows-only (xxhash64 family); SamplingChecksSpec pins
    // determinism, weight-scale invariance, and the zero/negative-weight
    // exclusion contract.
    QueryDef.rowsOnly("t21_weighted_sample") { (spark, dir) =>
      graft.functions.Sampling.weightedSample(
        Tables.load(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
        k = 50, seed = 42L, weight = col("n_chars"), col("doc_id"))
    },

    // T22: n-gram novelty — per doc, the fraction of its distinct 3-grams
    // that appear in NO earlier document (doc_id order stands in for
    // arrival order): the directional curation signal that separates
    // fresh content from recombinations of already-seen text. d19 measures
    // "how many docs share this gram"; this measures "was I first".
    // Shape: distinct-gram explode (native single-pass shingling) →
    // per-gram min(doc_id) as a window over the gram key → per-doc rollup.
    // Both shuffles are gram/doc-keyed; no self-join.
    QueryDef.sql(
      "t22_ngram_novelty",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
        |        THEN list_distinct(list_transform(range(len(ts)-2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
        |        ELSE [] END) AS g FROM t),
        |w AS (SELECT doc_id, g, MIN(doc_id) OVER (PARTITION BY g) AS first_doc FROM s)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  COUNT(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
        |  round(CAST(COUNT(CASE WHEN first_doc = doc_id THEN 1 END) AS DOUBLE) / COUNT(*), 6) AS novelty
        |FROM w GROUP BY doc_id""".stripMargin) { (spark, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      val novel = count(when(col("first_doc") === col("doc_id"), 1))
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.expr.WordShingleStrings(col("text"), 3)).as("g"))
        .withColumn("first_doc", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), novel.as("n_novel"),
          round(novel.cast("double") / count(lit(1)), 6).as("novelty"))
    },

    // T23: vocabulary growth (Heaps' law curve) — distinct types seen
    // after each document in doc_id order: when the curve flattens, new
    // data stops adding vocabulary. Scale shape: each type charges ONE
    // first-occurrence credit (min doc_id over the token key), credits
    // roll up per doc, and the running total is the bucketed distributed
    // prefix sum (operators/PrefixSum.scala) over the |docs|-cardinality
    // aggregate — the fact-scale work is two keyed shuffles, never a
    // cumulative-distinct over raw rows, and no task ever sorts the whole
    // doc spine.
    QueryDef.sql(
      "t23_vocab_growth",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT doc_id, unnest(ts) AS tok FROM t),
        |f AS (SELECT tok, MIN(doc_id) AS first_doc FROM e WHERE tok <> '' GROUP BY 1),
        |nt AS (SELECT first_doc AS doc_id, COUNT(*) AS new_types FROM f GROUP BY 1)
        |SELECT d.doc_id, COALESCE(nt.new_types, 0) AS new_types,
        |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        |FROM documents d LEFT JOIN nt ON d.doc_id = nt.doc_id""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      // no pre-dedup of (doc, tok): min(doc_id) per token and the per-doc
      // type count are duplicate-invariant, so a distinct pass would add a
      // second fact-scale shuffle for byte-identical output
      val nt = docs
        .select(col("doc_id"), explode(TextTokens.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("new_types"))
      val base = docs.select(col("doc_id")).join(nt, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("new_types"), lit(0L)).as("new_types"))
      graft.operators.PrefixSum.withRunningSum(
        base, rangeCol = "doc_id", descending = false,
        tieBreak = Seq.empty, value = col("new_types"), out = "vocab_size",
        probe = Some(docs.select(col("doc_id"))))
    },

    // T25: per-source divergence from the corpus token distribution —
    // Bhattacharyya coefficient and Hellinger distance, the "which source
    // is an outlier mixture-wise" signal a data-mixing pipeline reads
    // beside t15's rate planner. Hellinger over KL/JS deliberately: it
    // needs only division/multiply/sqrt, ALL correctly-rounded IEEE ops
    // that both engines compute bit-identically from the same integer
    // counts, where ln/exp are implementation-defined and could never
    // hash-match. The order-dependent float SUM is neutralized by casting
    // each term to DECIMAL(38,12) first (exact add); the cast's sub-ulp
    // tie behavior is the one cross-engine premise, gate-verified at all
    // three SFs. Shape: one token-keyed shuffle for the per-source counts,
    // a vocab-keyed join against the corpus counts, broadcast totals —
    // every stage keyed, nothing all-pairs.
    QueryDef.sql(
      "t25_source_divergence",
      """WITH e AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t FROM documents),
        |f AS (SELECT source, t, COUNT(*) AS c FROM e WHERE t <> '' GROUP BY 1, 2),
        |s AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns, COUNT(*) AS n_types FROM f GROUP BY 1),
        |g AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct FROM f GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM f),
        |b AS (SELECT f.source,
        |        SUM(CAST(sqrt((f.c / s.ns) * (g.ct / tot.total)) AS DECIMAL(38,12))) AS bc
        |      FROM f JOIN s ON f.source = s.source JOIN g ON f.t = g.t CROSS JOIN tot
        |      GROUP BY 1)
        |SELECT s.source, s.ns AS n_tokens, s.n_types,
        |  round(CAST(b.bc AS DOUBLE), 6) AS bhattacharyya,
        |  round(sqrt(greatest(0.0, 1.0 - CAST(b.bc AS DOUBLE))), 6) AS hellinger
        |FROM s JOIN b ON s.source = b.source""".stripMargin) { (spark, dir) =>
      val f = Tables.load(spark, dir, "documents")
        .select(col("source"), explode(TextTokens.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
      val s = f.groupBy(col("source"))
        .agg(sum(col("c")).as("ns"), count(lit(1)).as("n_types"))
      val g = f.groupBy(col("t")).agg(sum(col("c")).as("ct"))
      val tot = f.agg(sum(col("c")).as("total"))
      val term = sqrt((col("c") / col("ns")) * (col("ct") / col("total")))
      val b = f.join(broadcast(s.select(col("source"), col("ns"))), "source")
        .join(g, "t")
        .crossJoin(broadcast(tot))
        .select(col("source"),
          term.cast(org.apache.spark.sql.types.DecimalType(38, 12)).as("term"))
        .groupBy(col("source")).agg(sum(col("term")).as("bc"))
      val bcD = col("bc").cast("double")
      s.join(b, "source")
        .select(col("source"), col("ns").as("n_tokens"), col("n_types"),
          round(bcD, 6).as("bhattacharyya"),
          round(sqrt(greatest(lit(0.0), lit(1.0) - bcD)), 6).as("hellinger"))
    },

    // T27: language-ID confusion matrix — labeled vs predicted counts, the
    // evaluation every classifier change reads before shipping (which
    // languages leak into which). Reuses t1's marker-argmax expression
    // verbatim; the rollup is a |langs|²-keyed aggregate with map-side
    // combine, so the whole query is one scan + one tiny shuffle.
    QueryDef.sql(
      "t27_langid_confusion",
      """WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |c AS (SELECT doc_id, lang,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS en,
        |  len(list_filter(ts, x -> x IN ('el','la','de','y','es'))) AS es,
        |  len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(ts, x -> x IN ('le','la','de','et','est'))) AS fr
        |  FROM t),
        |p AS (SELECT lang AS labeled_lang,
        |  CASE WHEN en + es + de + fr = 0 THEN 'und'
        |       WHEN fr > en AND fr > es AND fr > de THEN 'fr'
        |       WHEN de > en AND de > es THEN 'de'
        |       WHEN es > en THEN 'es'
        |       ELSE 'en' END AS predicted_lang
        |  FROM c)
        |SELECT labeled_lang, predicted_lang, COUNT(*) AS n
        |FROM p GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(col("lang").as("labeled_lang"),
          graft.functions.TextTokens.tokens(col("text")).as("__toks"))
        .select(col("labeled_lang"),
          TextAnalysis.languageIdFromTokens(col("__toks")).as("predicted_lang"))
        .groupBy(col("labeled_lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
    },

    // T49: classifier CALIBRATION bins (reliability diagram) for the
    // langid heuristic — the eval every quality/toxicity/langid filter
    // needs before its scores gate a 100 TB corpus: bucket docs by
    // confidence, compare claimed confidence to realized accuracy per
    // bucket (ECE is one more weighted fold over this table). Confidence
    // is the EXACT INTEGER ratio best-markers/total-markers binned by
    // floor division (no IEEE boundary); the gate emits per-bin doc and
    // correct counts plus the raw numerator/denominator sums, so the
    // curve's inputs hash, not a float summary. Marker-less docs carry no
    // confidence and are excluded (they predict 'und'). One scan, one
    // map-side-combined groupBy over ≤11 bins.
    QueryDef.sql(
      "t49_calibration_bins",
      """WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |c AS (SELECT doc_id, lang,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS en,
        |  len(list_filter(ts, x -> x IN ('el','la','de','y','es'))) AS es,
        |  len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(ts, x -> x IN ('le','la','de','et','est'))) AS fr
        |  FROM t),
        |p AS (SELECT lang, en + es + de + fr AS total, greatest(en, es, de, fr) AS best,
        |  CASE WHEN en + es + de + fr = 0 THEN 'und'
        |       WHEN fr > en AND fr > es AND fr > de THEN 'fr'
        |       WHEN de > en AND de > es THEN 'de'
        |       WHEN es > en THEN 'es'
        |       ELSE 'en' END AS predicted
        |  FROM c WHERE en + es + de + fr > 0)
        |SELECT CAST((10 * best) // total AS INT) AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  CAST(SUM(best) AS BIGINT) AS sum_best,
        |  CAST(SUM(total) AS BIGINT) AS sum_total
        |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
      val counts = TextAnalysis.markerCounts(col("__toks"))
      val cs = counts.map(_._2)
      Tables.load(spark, dir, "documents")
        .select(col("lang"),
          graft.functions.TextTokens.tokens(col("text")).as("__toks"))
        .select(col("lang"),
          TextAnalysis.languageIdFromTokens(col("__toks")).as("predicted"),
          cs.reduce(_ + _).cast("long").as("__total"),
          greatest(cs: _*).cast("long").as("__best"))
        .filter(col("__total") > 0)
        .select(col("lang"), col("predicted"), col("__total"), col("__best"),
          expr("CAST((10 * __best) DIV __total AS INT)").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("predicted") === col("lang"), 1L).otherwise(0L)).as("n_correct"),
          sum(col("__best")).as("sum_best"),
          sum(col("__total")).as("sum_total"))
    },

    // T50: URL canonicalization + registered domain (functions/UrlNorm) —
    // the first operator of every web-corpus dedup stack: one page,
    // dozens of crawl spellings (scheme/host case, default ports,
    // fragments, param order, trailing host dots, doubled slashes).
    // The documents table carries no URL column, so the gate BUILDS a
    // hostile fixture per doc (6 rotating shapes covering every rule,
    // identical construction in both engines — the j2-audit pattern)
    // and then each engine canonicalizes with its OWN implementation of
    // the written 6-rule spec; full canonical values + eTLD+1 hash.
    // eTLD+1 runs against the FULL Public Suffix List on both sides:
    // Spark via the table-driven RegisteredDomain expression, DuckDB by
    // re-deriving the publicsuffix.org longest-match/wildcard/exception
    // algorithm in SQL over the SAME resource file (read_text + a
    // suffix-candidate lateral join) — two independent implementations
    // of the published algorithm, hash-compared. Fixture shape 4 is a
    // wildcard-rule host (*.ck), so the wildcard path is driver-gated,
    // not just spec-pinned.
    QueryDef.sql(
      "t50_url_canonicalize", {
        val re = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\\?[^#]*)?(#.*)?$"
        s"""WITH u AS (SELECT doc_id,
           |  CASE doc_id % 6 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'http' WHEN 2 THEN 'https'
           |       WHEN 3 THEN 'HTTPS' WHEN 4 THEN 'HtTpS' ELSE 'http' END ||
           |  '://' ||
           |  CASE doc_id % 6 WHEN 0 THEN 'WWW.' || source || '.Example.COM.'
           |       WHEN 1 THEN source || '.example.co.uk'
           |       WHEN 2 THEN source || '.pages.github.io'
           |       WHEN 3 THEN 'api.' || source || '.EXAMPLE.com'
           |       WHEN 4 THEN 'www.' || source || '.behind.ck'
           |       ELSE 'www.' || source || '.sub.example.org' END ||
           |  CASE doc_id % 6 WHEN 0 THEN ':80' WHEN 2 THEN ':443' WHEN 3 THEN ':8443' ELSE '' END ||
           |  CASE doc_id % 6 WHEN 0 THEN '//a//b/' || CAST(doc_id AS VARCHAR)
           |       WHEN 1 THEN '' WHEN 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
           |       WHEN 3 THEN '/x///y' ELSE '/' END ||
           |  CASE doc_id % 6 WHEN 1 THEN '?b=2&a=1&' WHEN 2 THEN '?z=9'
           |       WHEN 4 THEN '?q=' || CAST(doc_id AS VARCHAR) || '&a=1' ELSE '' END ||
           |  CASE WHEN doc_id % 6 IN (0, 5) THEN '#frag' ELSE '' END AS url
           |  FROM documents),
           |p AS (SELECT doc_id, url,
           |  lower(regexp_extract(url, '$re', 1)) AS scheme,
           |  regexp_extract(url, '$re', 2) AS auth,
           |  regexp_extract(url, '$re', 3) AS rawpath,
           |  regexp_extract(url, '$re', 4) AS rawq
           |  FROM u),
           |q AS (SELECT *,
           |  rtrim(regexp_replace(lower(auth), ':[0-9]+$$', ''), '.') AS host,
           |  regexp_extract(auth, ':([0-9]+)$$', 1) AS port FROM p),
           |r AS (SELECT *,
           |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
           |            OR (scheme = 'https' AND port = '443') THEN ''
           |       ELSE ':' || port END AS portpart,
           |  CASE WHEN rawpath = '' THEN '/'
           |       ELSE regexp_replace(rawpath, '/{2,}', '/', 'g') END AS path,
           |  list_filter(string_split(regexp_replace(rawq, '^\\?', ''), '&'),
           |              x -> x <> '') AS prms FROM q),
           |s AS (SELECT doc_id, host, scheme || '://' || host || portpart || path ||
           |  CASE WHEN len(prms) = 0 THEN ''
           |       ELSE '?' || list_aggr(list_sort(prms), 'string_agg', '&') END AS canon_url
           |  FROM r),
           |t AS (SELECT doc_id, canon_url, host, string_split(host, '.') AS ls FROM s),
           |rul AS (SELECT CASE WHEN line LIKE '!%' THEN substring(line, 2)
           |                    WHEN line LIKE '*.%' THEN substring(line, 3)
           |                    ELSE line END AS key,
           |               CASE WHEN line LIKE '!%' THEN 2 WHEN line LIKE '*.%' THEN 1 ELSE 0 END AS kind
           |        FROM (SELECT trim(x) AS line FROM
           |               (SELECT unnest(string_split(content, chr(10))) AS x
           |                FROM read_text('$pslPath')))
           |        WHERE line <> '' AND NOT line LIKE '//%'),
           |cap AS (SELECT MAX(len(string_split(key, '.'))) AS c FROM rul),
           |tc AS (SELECT t.*, cap.c AS cap_c FROM t, cap),
           |cand AS (SELECT doc_id, len(ls) AS n, kk.k,
           |           list_aggr(ls[len(ls)-kk.k+1 : len(ls)], 'string_agg', '.') AS suf
           |         FROM tc, LATERAL (SELECT unnest(range(1, least(len(ls), cap_c) + 1)) AS k) kk),
           |mm AS (SELECT c.doc_id,
           |         MAX(CASE WHEN r.kind = 0 THEN c.k
           |                  WHEN r.kind = 1 AND c.n >= c.k + 1 THEN c.k + 1 END) AS ps_n,
           |         MAX(CASE WHEN r.kind = 2 THEN c.k - 1 END) AS ps_e
           |       FROM cand c JOIN rul r ON r.key = c.suf GROUP BY 1),
           |ee AS (SELECT t.doc_id, t.canon_url, t.host, t.ls, len(t.ls) AS n,
           |        COALESCE(mm.ps_e, mm.ps_n, 1) AS ps
           |      FROM t LEFT JOIN mm ON mm.doc_id = t.doc_id)
           |SELECT doc_id, canon_url,
           |  CASE WHEN n <= ps THEN host
           |       ELSE list_aggr(ls[n - ps : n], 'string_agg', '.') END AS etld1
           |FROM ee""".stripMargin
      }) { (spark, dir) =>
      val m = pmod(col("doc_id"), lit(6L))
      def c6(cases: Seq[(Int, org.apache.spark.sql.Column)],
          default: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        cases.foldLeft(when(lit(false), lit("")))(
          (acc, kv) => acc.when(m === kv._1, kv._2)).otherwise(default)
      val ds = col("doc_id").cast("string")
      val url = concat(
        c6(Seq(0 -> lit("HTTP"), 1 -> lit("http"), 2 -> lit("https"),
          3 -> lit("HTTPS"), 4 -> lit("HtTpS")), lit("http")),
        lit("://"),
        c6(Seq(
          0 -> concat(lit("WWW."), col("source"), lit(".Example.COM.")),
          1 -> concat(col("source"), lit(".example.co.uk")),
          2 -> concat(col("source"), lit(".pages.github.io")),
          3 -> concat(lit("api."), col("source"), lit(".EXAMPLE.com")),
          4 -> concat(lit("www."), col("source"), lit(".behind.ck"))),
          concat(lit("www."), col("source"), lit(".sub.example.org"))),
        c6(Seq(0 -> lit(":80"), 2 -> lit(":443"), 3 -> lit(":8443")), lit("")),
        c6(Seq(0 -> concat(lit("//a//b/"), ds), 1 -> lit(""),
          2 -> concat(lit("/p/"), ds), 3 -> lit("/x///y")), lit("/")),
        c6(Seq(1 -> lit("?b=2&a=1&"), 2 -> lit("?z=9"),
          4 -> concat(lit("?q="), ds, lit("&a=1"))), lit("")),
        when(m.isin(0, 5), "#frag").otherwise(""))
      import graft.functions.UrlNorm
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), url.as("__url"))
        .select(col("doc_id"),
          UrlNorm.canonicalize(col("__url")).as("canon_url"),
          UrlNorm.registeredDomain(UrlNorm.host(col("__url"))).as("etld1"))
    },

    // T26: exact-duplicate rate per source — the corpus-health column every
    // ingestion report leads with (a source at 30% dup rate gets its
    // crawler fixed before its data gets cleaned). Rides t4's canonical
    // fingerprint; COUNT(DISTINCT fp) is Spark's two-phase exact distinct
    // (partial sets per partition, one source-keyed merge) — fine at any
    // scale because the rollup key space is |sources|.
    QueryDef.sql(
      "t26_dup_rate_by_source",
      """WITH fp AS (SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents)
        |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dups,
        |  round(CAST(COUNT(*) - COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_rate
        |FROM fp GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(col("source"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"),
          round((count(lit(1)) - countDistinct(col("fp"))).cast("double") /
            count(lit(1)), 6).as("dup_rate"))
    },

    // T28: per-source character-class composition — alpha/digit/space/other
    // counts and ratios, the cheap first-pass encoding-health check (a
    // source whose digit or symbol ratio jumps is mis-parsed markup or
    // binary bleed, caught before tokenization). Per-row class counts via
    // codegen'd regexp_replace+length, then one |sources|-key rollup; all
    // integer sums (CAST BIGINT — DuckDB widens SUM to HUGEINT) and
    // rational ratios.
    QueryDef.sql(
      "t28_char_class_profile",
      """WITH c AS (SELECT source, length(text) AS nc,
        |    length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS na,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS nd,
        |    length(regexp_replace(text, '[^ ]', '', 'g')) AS ns
        |  FROM documents)
        |SELECT source,
        |  CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(SUM(na) AS BIGINT) AS n_alpha,
        |  CAST(SUM(nd) AS BIGINT) AS n_digit,
        |  CAST(SUM(ns) AS BIGINT) AS n_space,
        |  CAST(SUM(nc - na - nd - ns) AS BIGINT) AS n_other,
        |  round(CAST(SUM(na) AS DOUBLE) / SUM(nc), 6) AS alpha_ratio,
        |  round(CAST(SUM(nc - na - nd - ns) AS DOUBLE) / SUM(nc), 6) AS other_ratio
        |FROM c GROUP BY 1""".stripMargin) { (spark, dir) =>
      val nc = length(col("text"))
      val na = length(regexp_replace(lower(col("text")), "[^a-z]", ""))
      val nd = length(regexp_replace(col("text"), "[^0-9]", ""))
      val ns = length(regexp_replace(col("text"), "[^ ]", ""))
      Tables.load(spark, dir, "documents")
        .select(col("source"), nc.as("nc"), na.as("na"), nd.as("nd"), ns.as("ns"))
        .groupBy(col("source"))
        .agg(
          sum(col("nc")).as("n_chars"),
          sum(col("na")).as("n_alpha"),
          sum(col("nd")).as("n_digit"),
          sum(col("ns")).as("n_space"),
          sum(col("nc") - col("na") - col("nd") - col("ns")).as("n_other"),
          round(sum(col("na")).cast("double") / sum(col("nc")), 6).as("alpha_ratio"),
          round(sum(col("nc") - col("na") - col("nd") - col("ns")).cast("double") /
            sum(col("nc")), 6).as("other_ratio"))
    },

    // T29: per-language doc-length percentile bands — the corpus length
    // report that drives context-window and chunk-size choices. Discrete
    // order statistics at ceil(p·n) picked by INTEGER rank arithmetic
    // (ceil(a/b) = (a+b-1)//b — no float percentile machinery to disagree
    // across engines); one language-partitioned window, groups sort in
    // their own slices (a24's doctrine).
    QueryDef.sql(
      "t29_length_bands_by_lang",
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  MAX(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS p25,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS p50,
        |  MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS p75,
        |  MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN n_chars END) AS p95
        |FROM r GROUP BY 1""".stripMargin) { (spark, dir) =>
      val byLang = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      val w = byLang.orderBy(col("n_chars"), col("doc_id"))
      Tables.load(spark, dir, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(byLang))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          max(when(col("rn") === expr("(n + 3) div 4"), col("n_chars"))).as("p25"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("p50"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"), col("n_chars"))).as("p75"),
          max(when(col("rn") === expr("(19 * n + 19) div 20"), col("n_chars"))).as("p95"))
    },

    // T30: tokenizer vocabulary construction — every distinct token gets a
    // stable contiguous id ordered by (frequency DESC, token ASC), the
    // token→id table a BPE-ish tokenizer ships with. The global rank is
    // operators/PrefixSum's bucketed running count (range-bucket on freq,
    // per-bucket row_number, broadcast offsets) — NEVER a no-partition
    // window: |vocab| on a 100 TB corpus is hundreds of millions of rows,
    // far past what one task should sort. Empty tokens are filtered on
    // both sides (the t20 convention).
    QueryDef.sql(
      "t30_vocab_index",
      """WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |e AS (SELECT unnest(ts) AS token FROM t),
        |v AS (SELECT token, COUNT(*) AS freq FROM e WHERE token <> '' GROUP BY 1)
        |SELECT token, freq,
        |  row_number() OVER (ORDER BY freq DESC, token) AS vocab_id
        |FROM v""".stripMargin) { (spark, dir) =>
      val vocab = Tables.load(spark, dir, "documents")
        .select(explode(TextTokens.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      graft.operators.PrefixSum.withRunningSum(
        vocab, rangeCol = "freq", descending = true,
        tieBreak = Seq(col("token")), value = lit(1L), out = "vocab_id")
        .select(col("token"), col("freq"), col("vocab_id"))
    },

    // M3: content-addressed payload dedup — the binary-side analog of
    // d1_exact_dedup: group opaque payloads by md5 content key, keep the
    // lowest id as the canonical copy, report copy count and bytes. This is
    // how 100 TB of scraped media dedups: one hash-keyed shuffle whose key
    // is 16 bytes regardless of payload size (the md5 folds at the SCAN,
    // map-side, so the exchange never carries payload bytes). The payload
    // here is the document text cast to binary — both engines hash the
    // identical UTF-8 byte stream (Spark md5(BINARY) == DuckDB md5(VARCHAR)
    // over its encoded bytes), making this the multimodal family's first
    // value-checked gate; magic4 is the uppercase hex of the leading 4
    // bytes (the format-sniff field a real media table would carry).
    // Oracle premise: the corpus is single-byte (ASCII), so DuckDB's
    // left(text, 4) — character slicing; blobs can't be sliced — equals
    // the first 4 BYTES; MultimodalSpec pins octet_length == length.
    QueryDef.sql(
      "m3_payload_dedup",
      """WITH p AS (SELECT doc_id, encode(text) AS payload, text FROM documents)
        |SELECT md5(text) AS content_key,
        |  COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keeper_id,
        |  CAST(MIN(octet_length(payload)) AS BIGINT) AS payload_bytes,
        |  MIN(hex(encode(left(text, 4)))) AS magic4
        |FROM p GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .groupBy(md5(col("payload")).as("content_key"))
        .agg(count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("keeper_id"),
          min(length(col("payload"))).cast("long").as("payload_bytes"),
          min(hex(substring(col("payload"), 1, 4))).as("magic4"))
    },

    // T31: χ² token salience vs the target language — the classic
    // feature-selection / domain-signature statistic, exact enough to
    // hash-match because the 2×2 χ² is ONE rational: with m = a(N−T) − bT
    // (ad − bc collapses, all exact int64), χ² = N·m² / (df·(N−df)·T·(N−T)).
    // Every intermediate product stays ≤ 2^53 (N ≤ 5k at sf0.1; m² ≤
    // 6.25e14) except the final N·m² — one correctly-rounded IEEE multiply,
    // identical in both engines — then one divide and round(6): the f7/e30
    // doctrine, no float SUMMATION anywhere. Counts are doc-frequencies
    // (distinct doc×token — one distinct + one keyed aggregate); the 1-row
    // (N, T) totals ride a broadcast cross join, never a second shuffle.
    // df bounds: ≥5 kills the noise floor, <N keeps (N−df) > 0.
    QueryDef.sql(
      "t31_token_salience",
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
        |d AS (SELECT DISTINCT doc_id, is_t, token FROM t WHERE token <> ''),
        |c AS (SELECT token,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |        CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS b
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt
        |        FROM documents),
        |x AS (SELECT token, a + b AS df, a, b, n, tt,
        |        a * (n - tt) - b * tt AS m
        |      FROM c CROSS JOIN tot WHERE a + b >= 5 AND a + b < n)
        |SELECT token, df, a AS df_target,
        |  round((CAST(n AS DOUBLE) * (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))
        |        / (((CAST(df AS DOUBLE) * (n - df)) * tt) * (n - tt)), 6) AS chi2,
        |  m > 0 AS target_enriched
        |FROM x""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val tot = docs.agg(
        count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
      val counts = docs
        .select(col("doc_id"), (col("lang") === "en").as("is_t"),
          explode(TextTokens.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .distinct()
        .groupBy(col("token"))
        .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("a"),
          sum(when(col("is_t"), 0L).otherwise(1L)).as("b"))
      val x = counts.crossJoin(broadcast(tot))
        .withColumn("df", col("a") + col("b"))
        .filter(col("df") >= 5 && col("df") < col("n"))
        .withColumn("m", col("a") * (col("n") - col("tt")) - col("b") * col("tt"))
      x.select(col("token"), col("df"), col("a").as("df_target"),
        round((col("n").cast("double") * (col("m").cast("double") * col("m").cast("double")))
          / (((col("df").cast("double") * (col("n") - col("df"))) * col("tt")) * (col("n") - col("tt"))),
          6).as("chi2"),
        (col("m") > 0).as("target_enriched"))
    },

    // T32: byte-weighted median length per source — the length L such that
    // half the corpus BYTES live in documents of length ≤ L. The
    // doc-count median (t29's band family) says what a typical DOCUMENT
    // looks like; the byte-weighted one says where the VOLUME is — the
    // statistic that actually drives packing/chunking budgets when a few
    // huge docs carry most of the corpus. All exact integer arithmetic:
    // per-source cumulative byte sums (source-partitioned windows — a24's
    // doctrine, slices sort independently; never a global window), and the
    // first row crossing half the total is the min matching value because
    // the order key IS the value.
    QueryDef.sql(
      "t32_byte_median_length",
      """WITH w AS (SELECT source, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(n_chars) OVER (PARTITION BY source) AS tot
        |  FROM documents)
        |SELECT source,
        |  CAST(MIN(CASE WHEN 2 * cum >= tot THEN n_chars END) AS BIGINT) AS byte_median_len,
        |  CAST(MIN(tot) AS BIGINT) AS total_bytes,
        |  COUNT(*) AS n_docs
        |FROM w GROUP BY 1""".stripMargin) { (spark, dir) =>
      val wOrd = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("source"))
      Tables.load(spark, dir, "documents")
        .select(col("source"), col("n_chars"),
          sum(col("n_chars")).over(wOrd).as("cum"),
          sum(col("n_chars")).over(wAll).as("tot"))
        .groupBy(col("source"))
        .agg(min(when(lit(2) * col("cum") >= col("tot"), col("n_chars")))
          .as("byte_median_len"),
          min(col("tot")).as("total_bytes"),
          count(lit(1)).as("n_docs"))
    },

    // T33: temperature-balanced mixture rates (α = 0.5) — the multilingual
    // sampling flattener: target share ∝ n^α so small sources are
    // upsampled and dominant ones damped (α=1 is natural, α=0 uniform).
    // α is fixed at 1/2 because sqrt is the ONE fractional power IEEE
    // correctly rounds — pow(x, 0.3) differs across libms and could never
    // hash-match. Weights are floor(sqrt(n)) pinned to exact int64 so the
    // normalizing SUM is integer (order-independent); each output is then
    // a single correctly-rounded multiply/divide (the t31 doctrine).
    // Plan: one count aggregate, 1-row totals broadcast back.
    QueryDef.sql(
      "t33_temperature_mix",
      """WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w FROM s),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS wsum,
        |        CAST(SUM(n_docs) AS BIGINT) AS total FROM w)
        |SELECT source, n_docs, w,
        |  round(CAST(w AS DOUBLE) / wsum, 6) AS target_share,
        |  round(CAST(n_docs AS DOUBLE) / total, 6) AS natural_share,
        |  round((CAST(w AS DOUBLE) * total) / (CAST(wsum AS DOUBLE) * n_docs), 6) AS sampling_factor
        |FROM w CROSS JOIN t""".stripMargin) { (spark, dir) =>
      val s = Tables.load(spark, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      val t = s.agg(sum(col("w")).cast("long").as("wsum"),
        sum(col("n_docs")).cast("long").as("total"))
      s.crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"), col("w"),
          round(col("w").cast("double") / col("wsum"), 6).as("target_share"),
          round(col("n_docs").cast("double") / col("total"), 6).as("natural_share"),
          round((col("w").cast("double") * col("total")) /
            (col("wsum").cast("double") * col("n_docs")), 6).as("sampling_factor"))
    },

    // M4: symmetric int8 embedding quantization — the 4× storage/bandwidth
    // compressor every 100 TB vector corpus applies before ANN serving.
    // Pure scan-level array math (transform/zip_with/aggregate — all
    // codegen'd, zero shuffles, row count unchanged): per vector,
    // scale = max|x|/127, q_i = clamp(floor(x/scale + 0.5)); the report
    // carries the order-INDEPENDENT exactness surface — integer q_sum
    // (int addition commutes; float sums never hash cross-engine),
    // q_min/q_max, and max|dequant − x| (max commutes; float32→float64
    // widening is exact, and every per-element op is one correctly-rounded
    // IEEE step mirrored verbatim in the oracle's list lambdas).
    QueryDef.sql(
      "m4_embedding_quantize",
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0, floor(x / scale + 0.5))) AS BIGINT))
        |        END AS qv
        |      FROM s)
        |SELECT vec_id, CAST(len(v) AS INT) AS n_dims, round(scale, 6) AS scale_q,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  round(list_max(list_transform(range(len(v)), i -> abs(qv[i+1] * scale - v[i+1]))), 6) AS max_abs_err
        |FROM q""".stripMargin) { (spark, dir) =>
      val e = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      val s = e.withColumn("scale",
        array_max(transform(col("v"), x => abs(x))) / 127.0)
      val q = s.withColumn("qv",
        when(col("scale") === 0, transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"), x =>
            greatest(lit(-127.0), least(lit(127.0), floor(x / col("scale") + 0.5)))
              .cast("long"))))
      q.select(col("vec_id"),
        size(col("v")).cast("int").as("n_dims"),
        round(col("scale"), 6).as("scale_q"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"),
        round(array_max(zip_with(col("qv"), col("v"),
          (qi, xi) => abs(qi * col("scale") - xi))), 6).as("max_abs_err"))
    },

    // T48: n-gram LM PERPLEXITY scoring (functions/NgramLm) — the CCNet
    // quality-filter shape: a bigram LM with add-one smoothing trained on
    // the even-doc reference split scores every odd doc. Context counts
    // are the ROLLUP of the bigram counts (c1 = Σ_w2 c2), which makes the
    // smoothed model a PROPER distribution (Σ_w2 (c2+1)/(c1+V) = 1) and
    // costs no second corpus scan. Per-transition ln p lands as BIGINT
    // micro-nats (round ·1e6) before the per-doc sum, so the hash pins
    // the whole smoothing arithmetic — including the unseen-bigram and
    // unseen-context paths — independent of partitioning.
    QueryDef.sql(
      "t48_lm_perplexity",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
        |c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT w) AS v FROM
        |        (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> ''),
        |tg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg WHERE doc_id % 2 = 1),
        |s AS (SELECT tg.doc_id,
        |        CAST(round(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE) /
        |          (COALESCE(c1.c1, 0) + v.v)) * 1000000.0) AS BIGINT) AS lp
        |      FROM tg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v)
        |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
        |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
        |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
        |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.NgramLm.scoreBigram(
        docs.filter(col("doc_id") % 2 === 0), "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    },

    // T86: KNESER-NEY smoothed bigram perplexity (NgramLm.scoreKneserNey
    // — Kneser & Ney 1995 / Chen & Goodman 1998 interpolated form, the
    // smoothing KenLM ships; CCNet's published scorer) beside t48's
    // add-one baseline, on t48's exact split: even docs train, odd docs
    // score. The whole discount arithmetic is in the hash — the D=3/4
    // rational discount as exact BIGINT expressions (max(4·c2 − 3, 0),
    // 4·c1, 3·N1f, N1r+1, B+V), TWO correctly-rounded double divisions
    // + one add in pinned order, one ln, 1e-6 fixed point, BIGINT
    // micro-nat doc sums. The continuation distribution (distinct-
    // context counts — what separates KN from add-one) and both backoff
    // paths (unseen bigram in a known context → pure λ·p_cont; unseen
    // context → bare p_cont) all execute on real odd-doc transitions at
    // every SF. KneserNeySpec pins the add-one-vs-KN rank INVERSION on
    // the york/francisco fixture.
    QueryDef.sql(
      "t86_kneser_ney_perplexity",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
        |c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |cn AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY 1),
        |nr AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM c2) AS b,
        |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
        |tg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg WHERE doc_id % 2 = 1),
        |s AS (SELECT tg.doc_id,
        |        CAST(round(ln(CASE WHEN cn.c1 IS NULL
        |          THEN CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE)
        |          ELSE CAST(greatest(COALESCE(c2.c2, 0) * 4 - 3, 0) AS DOUBLE) / CAST(4 * cn.c1 AS DOUBLE)
        |             + (CAST(3 * cn.n1f AS DOUBLE) * CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE))
        |               / (CAST(4 * cn.c1 AS DOUBLE) * CAST(tot.b + tot.v AS DOUBLE))
        |          END) * 1000000.0) AS BIGINT) AS lp
        |      FROM tg LEFT JOIN c2 ON tg.w1 = c2.w1 AND tg.w2 = c2.w2
        |              LEFT JOIN cn ON tg.w1 = cn.w1
        |              LEFT JOIN nr ON tg.w2 = nr.w2
        |              CROSS JOIN tot)
        |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
        |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
        |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
        |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.NgramLm.scoreKneserNey(
        docs.filter(col("doc_id") % 2 === 0), "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    },

    // T89: TRIGRAM recursive Kneser-Ney (NgramLm.scoreKneserNeyTrigram —
    // the Chen & Goodman order-3 interpolated model, the production
    // KenLM shape): the trigram level discounts into a bigram model
    // built from ADJUSTED counts (c′(w2,w3) = distinct extending w1 —
    // the defining KN recursion), which interpolates into the add-one
    // unigram continuation. The oracle replays the nested CASE
    // arithmetic with the p2 expression generated ONCE (both its inline
    // occurrences — the bare backoff and the λ3-multiplied one — come
    // from the same string, so they cannot drift); every backoff path
    // (unseen trigram context → p2, unseen w2 → p_cont) executes on
    // real odd-doc transitions at every SF.
    {
      val p2Sql =
        """CASE WHEN ctx2.ctx2 IS NULL
          |  THEN CAST(COALESCE(nrc.n1rc, 0) + 1 AS DOUBLE) / CAST(tot.b2 + tot.v AS DOUBLE)
          |  ELSE CAST(greatest(COALESCE(cp.cp, 0) * 4 - 3, 0) AS DOUBLE) / CAST(4 * ctx2.ctx2 AS DOUBLE)
          |     + (CAST(3 * ctx2.n2f AS DOUBLE) * CAST(COALESCE(nrc.n1rc, 0) + 1 AS DOUBLE))
          |       / (CAST(4 * ctx2.ctx2 AS DOUBLE) * CAST(tot.b2 + tot.v AS DOUBLE))
          |  END""".stripMargin
      QueryDef.sql(
        "t89_trigram_kn_perplexity",
        s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM documents),
          |tg3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1), i -> {'w1': ts[i], 'w2': ts[i+1], 'w3': ts[i+2]})) AS p FROM t),
          |c3 AS (SELECT p.w1 AS w1, p.w2 AS w2, p.w3 AS w3, COUNT(*) AS c3 FROM tg3 WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
          |c12 AS (SELECT w1, w2, SUM(c3) AS c12, COUNT(*) AS n3f FROM c3 GROUP BY 1, 2),
          |cp AS (SELECT w2, w3, COUNT(*) AS cp FROM c3 GROUP BY 1, 2),
          |ctx2 AS (SELECT w2, SUM(cp) AS ctx2, COUNT(*) AS n2f FROM cp GROUP BY 1),
          |nrc AS (SELECT w3, COUNT(*) AS n1rc FROM cp GROUP BY 1),
          |tot AS (SELECT (SELECT COUNT(*) FROM cp) AS b2,
          |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
          |tq AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM tg3 WHERE doc_id % 2 = 1),
          |s AS (SELECT tq.doc_id,
          |        CAST(round(ln(CASE WHEN c12.c12 IS NULL THEN
          |          $p2Sql
          |        ELSE
          |          CAST(greatest(COALESCE(c3.c3, 0) * 4 - 3, 0) AS DOUBLE) / CAST(4 * c12.c12 AS DOUBLE)
          |          + (CAST(3 * c12.n3f AS DOUBLE) / CAST(4 * c12.c12 AS DOUBLE)) *
          |            ($p2Sql)
          |        END) * 1000000.0) AS BIGINT) AS lp
          |      FROM tq LEFT JOIN c3 ON tq.w1 = c3.w1 AND tq.w2 = c3.w2 AND tq.w3 = c3.w3
          |              LEFT JOIN c12 ON tq.w1 = c12.w1 AND tq.w2 = c12.w2
          |              LEFT JOIN cp ON tq.w2 = cp.w2 AND tq.w3 = cp.w3
          |              LEFT JOIN ctx2 ON tq.w2 = ctx2.w2
          |              LEFT JOIN nrc ON tq.w3 = nrc.w3
          |              CROSS JOIN tot)
          |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
          |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
          |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
          |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
        val docs = Tables.load(spark, dir, "documents")
        graft.functions.NgramLm.scoreKneserNeyTrigram(
          docs.filter(col("doc_id") % 2 === 0), "text",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      }
    },

    // T88: MODIFIED Kneser-Ney perplexity (NgramLm.scoreModifiedKneserNey
    // — Chen & Goodman 1998 §3, the three-discount variant SRILM/KenLM
    // default to; completes the smoothing family beside t48 add-one and
    // t86 single-discount KN). The count-of-count estimation is IN the
    // T91: TRIGRAM MODIFIED Kneser-Ney — the actual SRILM/KenLM DEFAULT
    // (NgramLm.scoreModifiedKneserNeyTrigram): Chen & Goodman's three-
    // discount estimate at EVERY order of the t89 recursion, each order
    // estimating (D1,D2,D3+) from ITS OWN count-of-counts — the trigram
    // level over the raw c3 type counts, the continuation level over
    // the ADJUSTED counts c′. The oracle replays BOTH estimations (the
    // t88 HUGEINT/half-up/clamp/fallback block, twice) and the
    // two-level nested-CASE arithmetic with six discount constants; the
    // p2 string is generated once so its two inline occurrences cannot
    // drift. KneserNeySpec pins the separating fixture: the order-3
    // BUCKETED discounts reorder documents vs t89's single-discount
    // ranking (a singleton-trigram doc vs a count-3-trigram doc flip).
    {
      val p2mSql =
        """CASE WHEN ctx2.ctx2 IS NULL
          |  THEN CAST(COALESCE(nrc.n1rc, 0) + 1 AS DOUBLE) / CAST(tot.b2 + tot.v AS DOUBLE)
          |  ELSE CAST(greatest(COALESCE(cp.cp, 0) * 1000 -
          |         (CASE COALESCE(cp.cp, 0) WHEN 0 THEN 0 WHEN 1 THEN ff.f1
          |               WHEN 2 THEN ff.f2 ELSE ff.f3 END), 0) AS DOUBLE)
          |       / CAST(1000 * ctx2.ctx2 AS DOUBLE)
          |     + (CAST(ff.f1 * ctx2.mc1 + ff.f2 * ctx2.mc2 + ff.f3 * ctx2.mc3p AS DOUBLE)
          |         * CAST(COALESCE(nrc.n1rc, 0) + 1 AS DOUBLE))
          |       / (CAST(1000 * ctx2.ctx2 AS DOUBLE) * CAST(tot.b2 + tot.v AS DOUBLE))
          |  END""".stripMargin
      // the t88 estimation block per order — [[mknDiscSql]], shared with
      // the t95 order-5 oracle
      def discSql(cc: String, src: String, cnt: String,
          pre: String, o1: String, o2: String, o3: String) =
        mknDiscSql(cc, src, cnt, pre, o1, o2, o3)
      QueryDef.sql(
        "t91_trigram_modified_kn",
        s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM documents),
          |tg3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1), i -> {'w1': ts[i], 'w2': ts[i+1], 'w3': ts[i+2]})) AS p FROM t),
          |c3 AS (SELECT p.w1 AS w1, p.w2 AS w2, p.w3 AS w3, COUNT(*) AS c3 FROM tg3 WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3),
          |${discSql("cc3", "c3", "c3", "ee", "e1", "e2", "e3")},
          |c12 AS (SELECT w1, w2, SUM(c3) AS c12,
          |              SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS nc1,
          |              SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS nc2,
          |              SUM(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS nc3p
          |        FROM c3 GROUP BY 1, 2),
          |cp AS (SELECT w2, w3, COUNT(*) AS cp FROM c3 GROUP BY 1, 2),
          |${discSql("ccp", "cp", "cp", "ff", "f1", "f2", "f3")},
          |ctx2 AS (SELECT w2, SUM(cp) AS ctx2,
          |              SUM(CASE WHEN cp = 1 THEN 1 ELSE 0 END) AS mc1,
          |              SUM(CASE WHEN cp = 2 THEN 1 ELSE 0 END) AS mc2,
          |              SUM(CASE WHEN cp >= 3 THEN 1 ELSE 0 END) AS mc3p
          |        FROM cp GROUP BY 1),
          |nrc AS (SELECT w3, COUNT(*) AS n1rc FROM cp GROUP BY 1),
          |tot AS (SELECT (SELECT COUNT(*) FROM cp) AS b2,
          |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
          |tq AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, p.w3 AS w3 FROM tg3 WHERE doc_id % 2 = 1),
          |s AS (SELECT tq.doc_id,
          |        CAST(round(ln(CASE WHEN c12.c12 IS NULL THEN
          |          $p2mSql
          |        ELSE
          |          CAST(greatest(COALESCE(c3.c3, 0) * 1000 -
          |                 (CASE COALESCE(c3.c3, 0) WHEN 0 THEN 0 WHEN 1 THEN ee.e1
          |                       WHEN 2 THEN ee.e2 ELSE ee.e3 END), 0) AS DOUBLE)
          |               / CAST(1000 * c12.c12 AS DOUBLE)
          |          + (CAST(ee.e1 * c12.nc1 + ee.e2 * c12.nc2 + ee.e3 * c12.nc3p AS DOUBLE)
          |              / CAST(1000 * c12.c12 AS DOUBLE)) *
          |            ($p2mSql)
          |        END) * 1000000.0) AS BIGINT) AS lp
          |      FROM tq LEFT JOIN c3 ON tq.w1 = c3.w1 AND tq.w2 = c3.w2 AND tq.w3 = c3.w3
          |              LEFT JOIN c12 ON tq.w1 = c12.w1 AND tq.w2 = c12.w2
          |              LEFT JOIN cp ON tq.w2 = cp.w2 AND tq.w3 = cp.w3
          |              LEFT JOIN ctx2 ON tq.w2 = ctx2.w2
          |              LEFT JOIN nrc ON tq.w3 = nrc.w3
          |              CROSS JOIN tot CROSS JOIN ee CROSS JOIN ff)
          |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
          |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
          |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
          |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
        val docs = Tables.load(spark, dir, "documents")
        graft.functions.NgramLm.scoreModifiedKneserNeyTrigram(
          docs.filter(col("doc_id") % 2 === 0), "text",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      }
    },

    // T95: ORDER-5 MODIFIED Kneser-Ney — the KenLM production DEFAULT
    // shape (NgramLm.scoreModifiedKneserNeyOrderN at order 5; Wenzek et
    // al.'s CCNet trains exactly this): the Chen & Goodman three-
    // discount estimate at all four interpolation levels, the lower
    // three over ADJUSTED (distinct-extending-context) counts. The
    // oracle replays the whole chain LINEARLY — count frames c5→a4→a3→
    // a2, four mknDiscSql estimation blocks, per-level context/bucket
    // rollups, then one CTE per interpolation level (s2..s4) so each
    // p_k expression is generated ONCE from the same pSql builder the
    // level above references by column name (the t91 nested-CASE form
    // is exponential in the order — at order 5 it would inline p2
    // sixteen times). Every backoff path (unseen context at each of the
    // four levels, unseen w5 entirely) executes on real odd-doc
    // transitions at every SF. KneserNeySpec pins the separating
    // fixture: order-4/5 context mass reorders documents vs t91.
    {
      val levels = Seq(5, 4, 3, 2)
      val srcName = Map(5 -> "c5", 4 -> "a4", 3 -> "a3", 2 -> "a2")
      def keyWords(k: Int) = (5 - k + 1) to 5
      def ctxWords(k: Int) = (5 - k + 1) to 4
      val c5Sql = s"c5 AS (SELECT ${(1 to 5).map(j => s"p.w$j AS w$j").mkString(", ")}, " +
        s"COUNT(*) AS cnt FROM g5 WHERE doc_id % 2 = 0 GROUP BY ${(1 to 5).mkString(", ")})"
      val adjSql = Seq(4, 3, 2).map { k =>
        s"${srcName(k)} AS (SELECT ${keyWords(k).map(j => s"w$j").mkString(", ")}, " +
          s"COUNT(*) AS cnt FROM ${srcName(k + 1)} GROUP BY ${(1 to keyWords(k).size).mkString(", ")})"
      }
      val discSqls = levels.map(k =>
        mknDiscSql(s"cc$k", srcName(k), "cnt", s"dd$k", s"d${k}_1", s"d${k}_2", s"d${k}_3"))
      val ctxSqls = levels.map { k =>
        s"x$k AS (SELECT ${ctxWords(k).map(j => s"w$j").mkString(", ")}, SUM(cnt) AS ctx$k, " +
          s"SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS b${k}_1, " +
          s"SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS b${k}_2, " +
          s"SUM(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS b${k}_3p " +
          s"FROM ${srcName(k)} GROUP BY ${(1 to ctxWords(k).size).mkString(", ")})"
      }
      val s0Select = (Seq("tq.doc_id") ++
        levels.map(k => s"${srcName(k)}.cnt AS cnt$k") ++
        levels.flatMap(k => Seq(s"x$k.ctx$k", s"x$k.b${k}_1", s"x$k.b${k}_2", s"x$k.b${k}_3p")) ++
        Seq("nrc.n1rc", "tot.b2", "tot.v") ++
        levels.flatMap(k => Seq(s"dd$k.d${k}_1", s"dd$k.d${k}_2", s"dd$k.d${k}_3")) ++
        Seq("CAST(COALESCE(nrc.n1rc, 0) + 1 AS DOUBLE) / CAST(tot.b2 + tot.v AS DOUBLE) AS pc"))
        .mkString(", ")
      val s0Joins = (levels.map { k =>
        s"LEFT JOIN ${srcName(k)} ON " +
          keyWords(k).map(j => s"tq.w$j = ${srcName(k)}.w$j").mkString(" AND ")
      } ++ levels.map { k =>
        s"LEFT JOIN x$k ON " +
          ctxWords(k).map(j => s"tq.w$j = x$k.w$j").mkString(" AND ")
      } ++ Seq("LEFT JOIN nrc ON tq.w5 = nrc.w5", "CROSS JOIN tot") ++
        levels.map(k => s"CROSS JOIN dd$k")).mkString(" ")
      // the uniform per-level arithmetic, generated ONCE per level; the
      // level below is a COLUMN REFERENCE, so the chain stays linear
      def pSql(k: Int, pPrev: String) =
        s"""CASE WHEN ctx$k IS NULL THEN $pPrev ELSE
           |  CAST(greatest(COALESCE(cnt$k, 0) * 1000 -
           |    (CASE COALESCE(cnt$k, 0) WHEN 0 THEN 0 WHEN 1 THEN d${k}_1 WHEN 2 THEN d${k}_2 ELSE d${k}_3 END), 0) AS DOUBLE)
           |    / CAST(1000 * ctx$k AS DOUBLE)
           |  + (CAST(d${k}_1 * b${k}_1 + d${k}_2 * b${k}_2 + d${k}_3 * b${k}_3p AS DOUBLE)
           |    / CAST(1000 * ctx$k AS DOUBLE)) * ($pPrev) END""".stripMargin
      QueryDef.sql(
        "t95_order5_modified_kn",
        s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts FROM documents),
          |g5 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts) - 3), i -> {'w1': ts[i], 'w2': ts[i+1], 'w3': ts[i+2], 'w4': ts[i+3], 'w5': ts[i+4]})) AS p FROM t),
          |$c5Sql,
          |${adjSql.mkString(",\n")},
          |${discSqls.mkString(",\n")},
          |${ctxSqls.mkString(",\n")},
          |nrc AS (SELECT w5, COUNT(*) AS n1rc FROM a2 GROUP BY 1),
          |tot AS (SELECT (SELECT COUNT(*) FROM a2) AS b2,
          |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
          |tq AS (SELECT doc_id, ${(1 to 5).map(j => s"p.w$j AS w$j").mkString(", ")} FROM g5 WHERE doc_id % 2 = 1),
          |s0 AS (SELECT $s0Select FROM tq $s0Joins),
          |s2 AS (SELECT *, ${pSql(2, "pc")} AS p2 FROM s0),
          |s3 AS (SELECT *, ${pSql(3, "p2")} AS p3 FROM s2),
          |s4 AS (SELECT *, ${pSql(4, "p3")} AS p4 FROM s3),
          |s AS (SELECT doc_id, CAST(round(ln(${pSql(5, "p4")}) * 1000000.0) AS BIGINT) AS lp FROM s4)
          |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
          |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
          |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
          |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
        val docs = Tables.load(spark, dir, "documents")
        graft.functions.NgramLm.scoreModifiedKneserNeyOrderN(
          docs.filter(col("doc_id") % 2 === 0), "text",
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", order = 5)
      }
    },

    // hash: the oracle recomputes n1..n4 over the bigram type counts and
    // replays the exact rational→thousandths rounding (HUGEINT
    // cross-products, half-up, the empty-bucket pin, the open-ended ≥3
    // bucket's d2→d1 fallback, and the [1,999]/[1,1000·i] clamps) before the t86 arithmetic pattern with the three discounts
    // as CASE constants — so a wrong Y, a wrong bucket boundary, or a
    // rounding drift fails on a value at every SF.
    QueryDef.sql(
      "t88_modified_kn_perplexity",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
        |c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |cc AS (SELECT CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
        |              CAST(SUM(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
        |              CAST(SUM(CASE WHEN c2 = 3 THEN 1 ELSE 0 END) AS HUGEINT) AS n3,
        |              CAST(SUM(CASE WHEN c2 = 4 THEN 1 ELSE 0 END) AS HUGEINT) AS n4,
        |              CAST(SUM(CASE WHEN c2 >= 3 THEN 1 ELSE 0 END) AS HUGEINT) AS n3p
        |       FROM c2),
        |dd0 AS (SELECT n1, n2, n3, n4, n3p,
        |    CAST(GREATEST(1, LEAST(999, (2000 * n1 + (n1 + 2 * n2)) // (2 * (n1 + 2 * n2)))) AS BIGINT) AS d1,
        |    CAST(CASE WHEN n2 = 0 THEN 0
        |         WHEN 2 * (n1 + 2 * n2) * n2 - 3 * n1 * n3 <= 0 THEN 1
        |         ELSE GREATEST(1, LEAST(2000, (2000 * (2 * (n1 + 2 * n2) * n2 - 3 * n1 * n3) + (n1 + 2 * n2) * n2)
        |                          // (2 * (n1 + 2 * n2) * n2))) END AS BIGINT) AS d2
        |  FROM cc),
        |dd AS (SELECT d1, d2,
        |    CAST(CASE WHEN n3p = 0 THEN 0
        |         WHEN n3 = 0 THEN (CASE WHEN n2 > 0 THEN d2 ELSE d1 END)
        |         WHEN 3 * (n1 + 2 * n2) * n3 - 4 * n1 * n4 <= 0 THEN 1
        |         ELSE GREATEST(1, LEAST(3000, (2000 * (3 * (n1 + 2 * n2) * n3 - 4 * n1 * n4) + (n1 + 2 * n2) * n3)
        |                          // (2 * (n1 + 2 * n2) * n3))) END AS BIGINT) AS d3
        |  FROM dd0),
        |cn AS (SELECT w1, SUM(c2) AS c1,
        |              SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS nc1,
        |              SUM(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS nc2,
        |              SUM(CASE WHEN c2 >= 3 THEN 1 ELSE 0 END) AS nc3p
        |       FROM c2 GROUP BY 1),
        |nr AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM c2) AS b,
        |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
        |tg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg WHERE doc_id % 2 = 1),
        |s AS (SELECT tg.doc_id,
        |        CAST(round(ln(CASE WHEN cn.c1 IS NULL
        |          THEN CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE)
        |          ELSE CAST(greatest(COALESCE(c2.c2, 0) * 1000 -
        |                 (CASE COALESCE(c2.c2, 0) WHEN 0 THEN 0 WHEN 1 THEN dd.d1
        |                       WHEN 2 THEN dd.d2 ELSE dd.d3 END), 0) AS DOUBLE)
        |               / CAST(1000 * cn.c1 AS DOUBLE)
        |             + (CAST(dd.d1 * cn.nc1 + dd.d2 * cn.nc2 + dd.d3 * cn.nc3p AS DOUBLE)
        |                 * CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE))
        |               / (CAST(1000 * cn.c1 AS DOUBLE) * CAST(tot.b + tot.v AS DOUBLE))
        |          END) * 1000000.0) AS BIGINT) AS lp
        |      FROM tg LEFT JOIN c2 ON tg.w1 = c2.w1 AND tg.w2 = c2.w2
        |              LEFT JOIN cn ON tg.w1 = cn.w1
        |              LEFT JOIN nr ON tg.w2 = nr.w2
        |              CROSS JOIN tot CROSS JOIN dd)
        |SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
        |       CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
        |FROM t LEFT JOIN s ON s.doc_id = t.doc_id
        |WHERE t.doc_id % 2 = 1 GROUP BY 1""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.NgramLm.scoreModifiedKneserNey(
        docs.filter(col("doc_id") % 2 === 0), "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    },

    // T87: CCNet PERPLEXITY BUCKETING (NgramLm.perplexityBuckets —
    // Wenzek et al. 2020 §4.3, the published pipeline's headline move:
    // per language, order by reference-LM perplexity, cut into thirds;
    // head = keep). Composes t86 end-to-end: the KN scores of the odd
    // docs, joined with their language, ranked per language by
    // per-transition log-prob (ONE identical double division both
    // engines, doc-id tiebreak) and cut by EXACT integer rank
    // arithmetic (3·(rank−1) div n_lang) — cut boundaries are in the
    // hash, so an off-by-one in the tertile split or a rank-order
    // divergence fails on a value. Unscorable docs (< 2 tokens) take
    // 'unscored' rather than vanishing.
    QueryDef.sql(
      "t87_ccnet_buckets",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
        |c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |cn AS (SELECT w1, SUM(c2) AS c1, COUNT(*) AS n1f FROM c2 GROUP BY 1),
        |nr AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM c2) AS b,
        |               (SELECT COUNT(DISTINCT w) FROM (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> '') AS v),
        |tg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg WHERE doc_id % 2 = 1),
        |s AS (SELECT tg.doc_id,
        |        CAST(round(ln(CASE WHEN cn.c1 IS NULL
        |          THEN CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE) / CAST(tot.b + tot.v AS DOUBLE)
        |          ELSE CAST(greatest(COALESCE(c2.c2, 0) * 4 - 3, 0) AS DOUBLE) / CAST(4 * cn.c1 AS DOUBLE)
        |             + (CAST(3 * cn.n1f AS DOUBLE) * CAST(COALESCE(nr.n1r, 0) + 1 AS DOUBLE))
        |               / (CAST(4 * cn.c1 AS DOUBLE) * CAST(tot.b + tot.v AS DOUBLE))
        |          END) * 1000000.0) AS BIGINT) AS lp
        |      FROM tg LEFT JOIN c2 ON tg.w1 = c2.w1 AND tg.w2 = c2.w2
        |              LEFT JOIN cn ON tg.w1 = cn.w1
        |              LEFT JOIN nr ON tg.w2 = nr.w2
        |              CROSS JOIN tot),
        |sc AS (SELECT t.doc_id, CAST(COUNT(s.lp) AS BIGINT) AS n_scored,
        |              CAST(COALESCE(SUM(s.lp), 0) AS BIGINT) AS logprob_fp6
        |       FROM t LEFT JOIN s ON s.doc_id = t.doc_id
        |       WHERE t.doc_id % 2 = 1 GROUP BY 1),
        |sl AS (SELECT sc.doc_id, d.lang, sc.n_scored, sc.logprob_fp6
        |       FROM sc JOIN documents d USING (doc_id)),
        |b AS (SELECT doc_id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY CAST(logprob_fp6 AS DOUBLE) / n_scored DESC, doc_id) AS rnk,
        |        COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM sl WHERE n_scored > 0)
        |SELECT sl.doc_id, sl.lang, sl.n_scored, sl.logprob_fp6,
        |  CASE WHEN b.doc_id IS NULL THEN 'unscored'
        |       WHEN (3 * (rnk - 1)) // n_lang = 0 THEN 'head'
        |       WHEN (3 * (rnk - 1)) // n_lang = 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sl LEFT JOIN b USING (doc_id)""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val scored = graft.functions.NgramLm.scoreKneserNey(
        docs.filter(col("doc_id") % 2 === 0), "text",
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      graft.functions.NgramLm.perplexityBuckets(
        scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
        "doc_id", "lang")
    },

    // T51: DSIR-style importance weighting for data selection (Xie et
    // al. 2023 — public method; functions/NgramLm.importanceWeights):
    // weight(x) = log p_target(x) − log p_raw(x) under two add-one
    // bigram LMs — here target = the English reference slice, raw = the
    // whole pool — and `selected` is the shuffle-free sign rule (more
    // target-like than pool-like). Everything is t48's pinned micro-nat
    // arithmetic, so weights are exact BIGINT differences and the hash
    // pins BOTH models' smoothing end to end; the pool scans once
    // (bounded-registry persist), each model's bigram counts once. On
    // this corpus the sign rule selects 77% of en docs and ~6% of
    // non-en — the separation DSIR resamples by.
    QueryDef.sql(
      "t51_dsir_selection",
      """WITH t AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
        |c2t AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |c1t AS (SELECT w1, SUM(c2) AS c1 FROM c2t GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM t WHERE lang = 'en') WHERE w <> ''),
        |c2r AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1r AS (SELECT w1, SUM(c2) AS c1 FROM c2r GROUP BY 1),
        |vr AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(ts) AS w FROM t) WHERE w <> ''),
        |st AS (SELECT bg.doc_id, COUNT(*) AS n_scored,
        |         CAST(SUM(CAST(round(ln(CAST(COALESCE(c2t.c2, 0) + 1 AS DOUBLE) /
        |           (COALESCE(c1t.c1, 0) + vt.v)) * 1000000.0) AS BIGINT)) AS BIGINT) AS lp
        |       FROM bg LEFT JOIN c2t ON bg.p.w1 = c2t.w1 AND bg.p.w2 = c2t.w2
        |               LEFT JOIN c1t ON bg.p.w1 = c1t.w1 CROSS JOIN vt
        |       GROUP BY 1),
        |sr AS (SELECT bg.doc_id, CAST(SUM(CAST(round(ln(CAST(COALESCE(c2r.c2, 0) + 1 AS DOUBLE) /
        |           (COALESCE(c1r.c1, 0) + vr.v)) * 1000000.0) AS BIGINT)) AS BIGINT) AS lp
        |       FROM bg LEFT JOIN c2r ON bg.p.w1 = c2r.w1 AND bg.p.w2 = c2r.w2
        |               LEFT JOIN c1r ON bg.p.w1 = c1r.w1 CROSS JOIN vr
        |       GROUP BY 1)
        |SELECT t.doc_id, CAST(COALESCE(st.n_scored, 0) AS BIGINT) AS n_scored,
        |       CAST(COALESCE(st.lp, 0) AS BIGINT) AS lp_target_fp6,
        |       CAST(COALESCE(sr.lp, 0) AS BIGINT) AS lp_raw_fp6,
        |       CAST(COALESCE(st.lp, 0) - COALESCE(sr.lp, 0) AS BIGINT) AS weight_fp6,
        |       COALESCE(st.lp, 0) > COALESCE(sr.lp, 0) AS selected
        |FROM t LEFT JOIN st ON st.doc_id = t.doc_id
        |       LEFT JOIN sr ON sr.doc_id = t.doc_id""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.NgramLm.importanceWeights(
        docs.filter(col("lang") === "en"), docs, "text",
        docs, "doc_id", "text")
    })
}
