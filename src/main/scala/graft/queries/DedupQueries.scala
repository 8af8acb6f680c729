package graft.queries

import graft.functions.{MinHashLSH, SimHash, TextAnalysis, TextTokens}
import graft.functions.expr.HashedWordShingles
import graft.io.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` corpus: exact
  * (hash-groupBy), MinHash+LSH, SimHash, and exact n-gram Jaccard.
  * MinHash/SimHash depend on the xxhash64 family, which DuckDB doesn't
  * have, so those two are rows-only checked (their semantics are pinned by
  * DedupSpec against the exact-Jaccard oracle instead).
  */
object DedupQueries {

  /** Shared pair-statistics stage over the inverted 3-gram shingle index:
    * (id_a < id_b, |A∩B| as `inter`, |A| as `na`, |B| as `nb`). Feeds d4/d13
    * (Jaccard), d23 (containment) — one implementation so the overlap
    * semantics can never diverge between the symmetric and asymmetric
    * thresholds. */
  private[graft] def shinglePairStats(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      maxDf: Long = 0L) = {
    // native single-pass shingling (WordShingleStrings): this stage is
    // evaluated once per join branch by design (recompute beats caching a
    // full-corpus shingle stream), so per-branch scan cost must be a tight
    // loop, not the interpreted HOF chain
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.expr.WordShingleStrings(col("text"), 3).as("sh"))
    // explode_outer + attribute null-filter, NOT explode: plain explode
    // makes InferFiltersFromGenerate add `size(sh)>0 AND isnotnull(sh)`,
    // and predicate pushdown substitutes the aliases back — re-inlining
    // the whole quadratic shingle tree into a pre-projection Filter, twice
    // per self-join branch. The outer variant infers nothing; the null
    // rows it keeps die on the cheap post-Generate attribute filter.
    val explodedRaw = docs.select(col("doc_id"), explode_outer(col("sh")).as("g"))
      .filter(col("g").isNotNull)
    // SKEW GUARD: a stop-phrase shingle appearing in f documents puts f
    // rows on ONE shuffle key of the g-keyed self-join below, producing
    // f²/2 candidate pairs in a single task — the one data-dependent way
    // this stage degenerates at corpus scale. The guard drops shingles
    // whose document frequency exceeds `maxDf` (a left-semi join against
    // the surviving vocabulary: one extra g-keyed aggregate, bounding
    // every join key at maxDf rows — per-key work becomes ≤ maxDf²/2
    // regardless of corpus size). Semantics: the cap REDEFINES the
    // shingle universe — intersections AND set sizes both count only
    // surviving shingles, so Jaccard stays a true Jaccard
    // over the filtered sets (mirrored in [[shingleGraphSqlWith]]).
    // Default off (0): stop-phrase frequency is corpus-relative, so the
    // threshold is the caller's, not a constant — d34 pins the capped
    // path against the oracle at maxDf = 3.
    val exploded =
      if (maxDf <= 0L) explodedRaw
      else explodedRaw.join(
        explodedRaw.groupBy(col("g")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).select(col("g")),
        Seq("g"), "left_semi")
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    val inter = a.join(b, col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    // |sh| counted from the exploded stream, not size(sh) on the doc frame:
    // a derived-column size would drag the shingle tree back into inferred
    // not-null filters (pushdown substitutes aliases), while an aggregate
    // is a pushdown barrier. Zero-shingle docs drop out of the count, but
    // they have no pairs to join anyway. count(distinct shingles) == size.
    // NOT persisted (r18 A/B): the two sizes consumers (na and nb joins)
    // are textually identical Exchange subtrees that AQE already
    // deduplicates via runtime stage reuse, so a bounded-registry persist
    // here only added cache-materialization overhead on the single-action
    // queries (measured: d4 1.52→1.71 s, d24 2.59→3.86 s with the
    // persist; reverted). Multi-consumer reuse belongs one level up, on
    // the output-proportional PAIR graph (see Triangles / the CC gates).
    val sizes = exploded.groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "ida").withColumnRenamed("n", "na"), col("id_a") === col("ida"))
      .join(sizes.withColumnRenamed("doc_id", "idb").withColumnRenamed("n", "nb"), col("id_b") === col("idb"))
      .select(col("id_a"), col("id_b"), col("inter"), col("na"), col("nb"))
  }

  /** Exact 3-gram Jaccard ≥ `threshold` pairs (id_a < id_b) via the
    * inverted shingle index — the pair stage shared by d4 (reporting), d13
    * (cluster assignment), d21 (ranking) at 0.8 and d24 (triangles) at the
    * looser 0.5. */
  private def jaccardPairs(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.8, maxDf: Long = 0L) = {
    val j = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    shinglePairStats(spark, dir, maxDf)
      .filter(j >= threshold)
      .select(col("id_a"), col("id_b"), round(j, 6).as("jaccard"))
  }

  /** Shared DuckDB CTE prefix: distinct 3-gram shingle stream → candidate
    * pair intersections (`p`) and shingle-set sizes (`z`) — the oracle-side
    * twin of [[jaccardPairs]]. ONE copy, composed into the d4/d13/d21
    * oracles, so a threshold or shingling change can never desynchronize
    * some oracles from the shared Spark helper. */
  private def shingleGraphSqlWith(maxDf: Option[Long]): String = {
    val prefix =
      """t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN list_distinct(list_transform(range(len(ts)-2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) ELSE [] END AS sh FROM t)""".stripMargin
    val stream = maxDf match {
      case None =>
        """e AS (SELECT doc_id, unnest(sh) AS g FROM s),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |z AS (SELECT doc_id, len(sh) AS n FROM s)""".stripMargin
      case Some(cap) =>
        // document-frequency cap: the shingle universe is the ≤cap-DF
        // vocabulary, and BOTH p (intersections) and z (set sizes) count
        // only surviving shingles — the oracle twin of the Spark-side
        // left-semi guard in [[shinglePairStats]].
        s"""e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
           |keep AS (SELECT g FROM e0 GROUP BY g HAVING COUNT(*) <= $cap),
           |e AS (SELECT e0.doc_id, e0.g FROM e0 JOIN keep USING (g)),
           |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
           |z AS (SELECT doc_id, COUNT(*) AS n FROM e GROUP BY doc_id)""".stripMargin
    }
    s"$prefix,\n$stream"
  }

  private val shingleGraphSql: String = shingleGraphSqlWith(None)

  /** The supplier "handoff" digraph shared by the directed-graph gates
    * (d54 SCC, d56 TrustRank, d57 walks): consecutive lineitems within an
    * order hand off supplier→supplier, thinned to l_quantity<5 (~7 edges
    * per vertex with a giant cyclic core plus trimmable periphery). The
    * lag order is TOTAL — (linenumber, suppkey, partkey) — because
    * (orderkey, linenumber) is NOT unique in this corpus (1051 dupes at
    * sf0.1) and an ambiguous order walks different sequences per engine. */
  private val handoffGraphSql: String =
    """el AS (
      |  SELECT lag(l_suppkey) OVER (PARTITION BY l_orderkey
      |           ORDER BY l_linenumber, l_suppkey, l_partkey) AS src,
      |         l_suppkey AS dst
      |  FROM lineitem WHERE l_quantity < 5),
      |edges AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
      |          FROM el WHERE src IS NOT NULL AND src <> dst),
      |verts AS (SELECT DISTINCT id FROM
      |            (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))""".stripMargin
  // ^ DISTINCT-over-UNION-ALL, NOT bare UNION: under WITH RECURSIVE (d57)
  // DuckDB applies recursive-union semantics to EVERY CTE in the list that
  // uses UNION, and a non-self-referencing one silently stops deduping
  // (observed: 100 rows from a 10-vertex graph). This form is identical in
  // both contexts.

  /** DataFrame twin of [[handoffGraphSql]]'s `edges`. Persisted through
    * the bounded registry: SIX gate queries (d54/d56/d57/d61/d62/d63)
    * build this identical frame — same canonical plan, ONE cacheManager
    * entry — so within a Verify session the lineitem scan + lag window +
    * distinct runs once, not once per graph query, and within one query
    * the verts-union's two branches scan cache instead of re-running the
    * window. (Safe per the d21 lesson: that regression was an
    * InMemoryRelation boundary breaking ReuseExchange dedup of an
    * EXPENSIVE self-join exchange; here the cached frame IS the shared
    * leaf every consumer wants. Measured honestly: d54 standalone is
    * UNCHANGED — 17.97 s before vs 19.23 s after, inside the ±10%
    * session noise, because its cost is ~25 per-round jobs, not the
    * window — the win is the cross-query reuse in a Verify session.) */
  private def handoffEdges(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import org.apache.spark.sql.expressions.Window
    graft.engine.BoundedCaches.persist(
      Tables.load(spark, dir, "lineitem")
        .filter(col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"))
        .withColumn("src",
          lag(col("l_suppkey"), 1).over(
            Window.partitionBy(col("l_orderkey"))
              .orderBy(col("l_linenumber"), col("l_suppkey"), col("l_partkey"))))
        .filter(col("src").isNotNull && col("src") =!= col("l_suppkey"))
        .select(col("src").cast("long"), col("l_suppkey").cast("long").as("dst"))
        .distinct())
  }

  /** d22's implementation, parameterized so the spec can force EITHER
    * regime on the same corpus (the stats probe would always pick dense on
    * the tiny-vocab test data): `denseVocabMax = 0` forces the sparse
    * prefix-filter plan, the default follows the probe. See the d22 query
    * comment for the plan-choice rationale. */
  private[graft] def tfCosinePairs(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      threshold: Double = 0.9, denseVocabMax: Long = 1024L) = {
    // empty-string tokens (whitespace-edge text) are not terms: the
    // token-stats family (t17/t20/t23/d22) filters them uniformly, unlike
    // the raw length metrics (t2/t3) and the shingle stream (t8/t19/t22)
    // which keep the raw split by documented convention.
    // persisted (bounded registry): the tf frame feeds the eager stats
    // probe, the norms aggregate, and the chosen regime's 1-3 further
    // consumers — uncached, each re-ran the corpus scan + explode + agg.
    // The cached frame is (doc, distinct-term) scale, below token scale.
    val f = graft.engine.BoundedCaches.persist(
      Tables.load(spark, dir, "documents")
        .select(col("doc_id"), explode(TextTokens.tokens(col("text"))).as("g"))
        .filter(col("g") =!= "")
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("tf")))
    val z = f.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("n2"))
    // stats probe, ONE aggregate job over the pair frame: vocab size AND
    // doc count together (a separate doc-count pass would re-scan the
    // corpus just to reject the dense plan). The dense broadcast is the
    // PER-DOCUMENT vector frame, so the guard must bound docs × vocab —
    // the vocab bound alone says nothing about the corpus (10M docs over a
    // 500-term vocab is a 40 GB "broadcast"). ~1 GiB vector ceiling, AND a
    // pair budget: the dense path streams nDocs² dot products through the
    // broadcast nested loop, so a tiny vocab must not admit a huge corpus
    // (vocab=31 passes the byte bound at ~4M docs = 8e12 pairs). Past
    // ~1e8 pairs the sparse prefix-filter plan wins regardless of vocab.
    val probe = f.agg(
      countDistinct(col("g")).as("v"), countDistinct(col("doc_id")).as("d")).head()
    val (vocabSize, nDocs) = (probe.getLong(0), probe.getLong(1))
    val denseBytesMax = 1L << 30
    val densePairsMax = 100000000L
    val dots =
      if (vocabSize > 0 && vocabSize <= denseVocabMax &&
        nDocs * vocabSize * 8L <= denseBytesMax &&
        nDocs * nDocs <= densePairsMax) {
        // vocab values: a TakeOrdered bounded by the guard above
        val vocab = f.select(col("g")).distinct().orderBy(col("g"))
          .take(vocabSize.toInt).map(_.getString(0)).toSeq
        val dense = f.groupBy(col("doc_id"))
          .agg(map_from_arrays(collect_list(col("g")), collect_list(col("tf"))).as("m"))
          .select(col("doc_id"),
            transform(typedLit(vocab),
              t => coalesce(element_at(col("m"), t), lit(0L)).cast("double")).as("v"))
        dense.select(col("doc_id").as("id_a"), col("v").as("va"))
          .join(broadcast(dense.select(col("doc_id").as("id_b"), col("v").as("vb"))),
            col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Similarity.dot(col("va"), col("vb")).as("dot"))
      } else {
        val fw = f.join(z, "doc_id")
          .withColumn("w", col("tf").cast("double") / sqrt(col("n2").cast("double")))
        val termStats = fw.groupBy(col("g"))
          .agg(count(lit(1)).as("df"), max(col("w")).as("mw"))
        val wDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("df").desc, col("g"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val indexed = fw.join(termStats, "g")
          .withColumn("b", sum(col("w") * col("mw")).over(wDoc))
          .filter(col("b") >= threshold - 1e-9)
          .select(col("doc_id"), col("g"))
        val cand = indexed.alias("ia")
          .join(indexed.alias("ib"),
            col("ia.g") === col("ib.g") && col("ia.doc_id") < col("ib.doc_id"))
          .select(col("ia.doc_id").as("id_a"), col("ib.doc_id").as("id_b"))
          .distinct()
        // exact integer dot over the FULL vectors for surviving candidates
        cand
          .join(f.select(col("doc_id").as("id_a"), col("g"), col("tf").as("tfa")), Seq("id_a"))
          .join(f.select(col("doc_id").as("id_b"), col("g"), col("tf").as("tfb")), Seq("id_b", "g"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(sum(col("tfa") * col("tfb")).cast("double").as("dot"))
      }
    val cos = col("dot") /
      sqrt(col("na2").cast("double") * col("nb2").cast("double"))
    dots
      .join(z.select(col("doc_id").as("ida"), col("n2").as("na2")), col("id_a") === col("ida"))
      .join(z.select(col("doc_id").as("idb"), col("n2").as("nb2")), col("id_b") === col("idb"))
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cosine"))
  }

  /** The ≥0.8-Jaccard pair set on top of [[shingleGraphSql]]. */
  private val jaccardPairsSql: String =
    """pairs AS (SELECT id_a, id_b FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
      |          WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // D70: PARAGRAPH-level dedup (functions/ParagraphDedup — the CCNet
    // preprocessing stage, public method): corpus-wide first-wins on
    // paragraph fingerprints, then in-order reassembly — what actually
    // strips boilerplate (nav bars, footers) document fingerprints can't
    // see. The corpus has no paragraph structure, so the fixture builds
    // 3-paragraph docs (own text | one of 7 shared boilerplate blocks |
    // a per-source tail) — the boilerplate and tails dedup corpus-wide,
    // exact-dup docs lose their body too, and the oracle replays the
    // whole rule with a window + ordered string_agg. FULL VALUES: the
    // reassembled clean_text is in the hash, so a reassembly that loses
    // paragraph ORDER (an unsorted collect_list) fails even when counts
    // match. One explode + ONE fp-keyed window shuffle + one doc-keyed
    // reassembly — linear at 100 TB.
    QueryDef.sql(
      "d70_paragraph_dedup",
      """WITH d0 AS (SELECT doc_id,
        |    text || chr(10) || chr(10) || 'boilerplate block ' || CAST(doc_id % 7 AS VARCHAR)
        |         || chr(10) || chr(10) || 'tail ' || source AS txt
        |  FROM documents),
        |p0 AS (SELECT doc_id, string_split(txt, chr(10) || chr(10)) AS ps FROM d0),
        |p AS (SELECT doc_id, i - 1 AS pos, ps[i] AS para
        |      FROM p0, LATERAL (SELECT unnest(range(1, len(ps) + 1)) AS i) t
        |      WHERE ps[i] <> ''),
        |r AS (SELECT doc_id, pos, para,
        |        row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
        |      FROM p),
        |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
        |        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |        COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
        |          chr(10) || chr(10) ORDER BY pos), '') AS clean_text
        |      FROM r GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.n_paragraphs, 0) AS n_paragraphs,
        |       COALESCE(a.n_kept, 0) AS n_kept,
        |       COALESCE(a.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id""".stripMargin) { (spark, dir) =>
      val txt = concat(col("text"),
        lit("\n\nboilerplate block "), pmod(col("doc_id"), lit(7L)),
        lit("\n\ntail "), col("source"))
      graft.functions.ParagraphDedup.dedup(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), txt.as("text")),
        "doc_id", "text")
    },

    // Exact dedup: canonical-text fingerprint → groupBy → first-id keeper.
    // At 100 TB this is one shuffle on a 16-byte key.
    QueryDef.sql(
      "d1_exact_dedup",
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       MIN(doc_id) AS keeper_id, COUNT(*) AS n
        |FROM documents GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .groupBy(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n"))
    },

    // Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    // explode distinct 3-gram shingles → equi-join on shingle → pair
    // intersection counts → |A∪B| = |A|+|B|-|A∩B|. Fully distributed; the
    // shuffle key is the shingle, so common shingles (stop-phrases) are the
    // skew risk — at scale, drop top-frequency shingles first.
    QueryDef.sql(
      "d4_ngram_jaccard_pairs",
      s"""WITH $shingleGraphSql
         |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
         |FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8""".stripMargin) { (spark, dir) =>
      jaccardPairs(spark, dir)
    },

    // D60: dedup-threshold calibration sweep — the operational question
    // every near-dup deployment starts with ("where do I set the Jaccard
    // cutoff?") answered from ONE pass over the SAME shared pair stats
    // d4/d13/d21 ride: pairs bucketed into 5%-wide Jaccard bins by EXACT
    // integer arithmetic ((inter·20) div |A∪B| — no float boundary
    // cliff), each bin reporting its pair count and how many of its
    // pairs are byte-identical documents (md5 agreement) — exact dups
    // must concentrate in the top bins, and the bin where they thin out
    // IS the calibration read. Cost beyond the pair stage: two doc-keyed
    // fingerprint joins and a ≤21-row rollup.
    QueryDef.sql(
      "d60_dedup_threshold_sweep",
      s"""WITH $shingleGraphSql,
         |jb AS (SELECT p.id_a, p.id_b,
         |         CAST((p.inter * 20) // (za.n + zb.n - p.inter) AS INT) AS bucket
         |       FROM p JOIN z za ON za.doc_id = p.id_a
         |              JOIN z zb ON zb.doc_id = p.id_b),
         |fp AS (SELECT doc_id, md5(text) AS f FROM documents)
         |SELECT jb.bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |       CAST(SUM(CASE WHEN fa.f = fb.f THEN 1 ELSE 0 END) AS BIGINT) AS n_exact
         |FROM jb JOIN fp fa ON fa.doc_id = jb.id_a
         |        JOIN fp fb ON fb.doc_id = jb.id_b
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      val fp = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("f"))
      shinglePairStats(spark, dir)
        .withColumn("bucket",
          expr("CAST((inter * 20) div (na + nb - inter) AS INT)"))
        .join(fp.select(col("doc_id").as("id_a"), col("f").as("fa")), Seq("id_a"))
        .join(fp.select(col("doc_id").as("id_b"), col("f").as("fb")), Seq("id_b"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("fa") === col("fb"), 1L).otherwise(0L)).as("n_exact"))
    },

    // D34: d4 under a document-frequency cap (maxDf = 3) — the oracled
    // pin of the skew guard's filtered path: the capped Spark plan
    // (left-semi vocabulary guard) and the capped oracle CTE
    // (HAVING COUNT(*) <= 3) are hash-compared on real data: every
    // planted near-dup pair survives but every Jaccard VALUE shifts (the
    // universe shrank), so a desync between guard and oracle cannot hide.
    QueryDef.sql(
      "d34_jaccard_df_capped",
      s"""WITH ${shingleGraphSqlWith(Some(3L))}
         |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
         |FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8""".stripMargin) { (spark, dir) =>
      jaccardPairs(spark, dir, maxDf = 3L)
    },

    // Duplicate-cluster assignment: connected components over the near-dup
    // pair graph — the stage between pair detection and keeper election
    // (pairs → component id → keeper = component minimum). Iterative
    // min-label propagation (graft.operators.ConnectedComponents), oracled
    // against DuckDB's recursive-CTE transitive closure.
    QueryDef.sql(
      "d13_dup_clusters",
      s"""WITH RECURSIVE
         |$shingleGraphSql,
         |$jaccardPairsSql,
         |e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(id, label) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT e2.dst, r.label FROM reach r JOIN e2 ON r.id = e2.src)
        |SELECT id AS doc_id, min(label) AS component, min(label) = id AS is_keeper
        |FROM reach GROUP BY id""".stripMargin) { (spark, dir) =>
      val verts = Tables.load(spark, dir, "documents").select(col("doc_id"))
      // minLabel's result stays cached (vertex-count × 16 bytes — the
      // iterative operator's documented contract) until the session cache
      // releases it (clearCache, or its LRU).
      val clusters = graft.operators.ConnectedComponents.minLabel(
        verts, "doc_id", jaccardPairs(spark, dir), "id_a", "id_b")
      clusters.select(
        col("id").as("doc_id"), col("label").as("component"),
        (col("label") === col("id")).as("is_keeper"))
    },

    // D33: quality-based keeper ELECTION — the retention policy dedup
    // actually feeds. d13's min-id keeper is the graph-theoretic default;
    // real corpora keep the best document per cluster. Here: the most
    // tokens wins, doc_id breaks ties (deterministic), via one window over
    // the component key — the rank and the grouping share the partitioning,
    // so beyond the component assignment itself this adds exactly one
    // component-keyed shuffle. Cluster sizes are bounded by near-dup
    // semantics (no component is corpus-scale unless the corpus IS one
    // near-dup class), so the window never degenerates to SinglePartition.
    QueryDef.sql(
      "d33_cluster_canonical",
      s"""WITH RECURSIVE
         |$shingleGraphSql,
         |$jaccardPairsSql,
         |e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM t
         |  UNION
         |  SELECT e2.dst, r.label FROM reach r JOIN e2 ON r.id = e2.src),
         |comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
         |q AS (SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INT) AS n_tokens FROM documents),
         |r AS (SELECT c.doc_id, c.component, q.n_tokens,
         |        row_number() OVER (PARTITION BY c.component ORDER BY q.n_tokens DESC, c.doc_id) AS rn
         |      FROM comp c JOIN q ON c.doc_id = q.doc_id)
         |SELECT doc_id, component, n_tokens, rn = 1 AS is_canonical FROM r""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val clusters = graft.operators.ConnectedComponents.minLabel(
        docs.select(col("doc_id")), "doc_id",
        jaccardPairs(spark, dir), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("component"))
      val quality = docs.select(col("doc_id").as("q_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_tokens"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      clusters.join(quality, col("doc_id") === col("q_id"))
        .drop("q_id")
        .withColumn("is_canonical", row_number().over(w) === 1)
        .select(col("doc_id"), col("component"), col("n_tokens"), col("is_canonical"))
    },

    // D35: exact repeated-substring SPANS — the suffix-array dedup flavor
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): find every maximal token span whose 8-token windows ALL
    // recur in some other document, i.e. the verbatim-copied passages a
    // substring-level dedup would cut (doc-level Jaccard never sees a
    // paragraph pasted into an otherwise-unique page). Spark-first shape
    // instead of a suffix array: one overlapping-window pass (posexplode,
    // output-proportional), one window-keyed distinct-doc aggregate (the
    // "does this 8-gram recur elsewhere" set), a left-semi join back to
    // the positioned stream, and per-doc island merging via the classic
    // pos - row_number() group key — flagged windows at consecutive
    // positions fuse into one maximal span. Unlike the shingle pair
    // family this is skew-safe BY CONSTRUCTION: the window-keyed
    // aggregate partial-combines map-side (a stop-phrase window collapses
    // to one row per partition before the shuffle) and the semi join
    // emits at most the left side — no per-key pair fan-out exists
    // anywhere. Cost is linear in corpus windows.
    QueryDef.sql(
      "d35_repeated_spans",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos, array_to_string(list_slice(ts, i, i+7), ' ') AS w
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 6)) AS i) r),
        |f AS (SELECT w FROM g GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
        |fg AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (w)),
        |isl AS (SELECT doc_id, pos,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM fg)
        |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
        |       CAST(MAX(pos) + 7 AS INT) AS span_end, COUNT(*) AS n_windows
        |FROM isl GROUP BY doc_id, grp""".stripMargin) { (spark, dir) =>
      val wins = Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        posexplode(graft.functions.expr.WordShingleStrings(
          col("text"), 8, distinct = false)).as(Seq("pos", "w")))
      val recurring = wins.groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("w"))
      val flagged = wins.join(recurring, Seq("w"), "left_semi")
      val grp = col("pos") -
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos")))
      flagged.withColumn("grp", grp)
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).cast("int").as("span_start"),
          (max(col("pos")) + 7).cast("int").as("span_end"),
          count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
    },

    // MinHash + banded LSH: the scale path for near-dup detection — the
    // only shuffle is on (band, signature). Candidates are verified with
    // exact Jaccard before reporting. rows-only (xxhash64 family).
    QueryDef.rowsOnly("d2_minhash_lsh_dedup") { (spark, dir) =>
      // ONE native shingling pass (HashedWordShingles); the distinct hash
      // sets serve both the minhash stage and the exact-Jaccard verify
      // (Jaccard over hash sets == Jaccard over shingle sets modulo 64-bit
      // collisions). No persist: the verify join-backs re-derive the sets
      // from the scan (narrow recompute) — a full-corpus shingle cache is
      // bigger than the corpus and can't exist at 100 TB.
      val docs = Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        array_distinct(HashedWordShingles(col("text"), 3)).as("hs"))
      val cand = MinHashLSH.candidatePairs(docs, "doc_id", "hs", k = 64, bands = 16)
      // Verify join-backs are hint-free: strategy is size-chosen (broadcast
      // only while the shingle frame fits; shuffle otherwise), and the
      // recomputed shingling is one narrow pass per end.
      val withSh = cand
        .join(docs.select(col("doc_id").as("ida"), col("hs").as("sha")), col("id_a") === col("ida"))
        .join(docs.select(col("doc_id").as("idb"), col("hs").as("shb")), col("id_b") === col("idb"))
      // Filter on the UNROUNDED Jaccard, exactly like jaccardPairs/d4 —
      // rounding before the threshold would admit boundary pairs
      // (0.7999996 → 0.8) that the exact path rejects, breaking the
      // LSH-vs-exact cross-check at the boundary.
      withSh
        .withColumn("__j", MinHashLSH.jaccard(col("sha"), col("shb")))
        .filter(col("__j") >= 0.8)
        .select(col("id_a"), col("id_b"), round(col("__j"), 6).as("jaccard"))
    },

    // SimHash near-dup pairs: 64-bit signatures, 4×16-bit band bucket join,
    // exact Hamming verify ≤ 3 (pigeonhole guarantees recall at that
    // radius). rows-only (xxhash64 family).
    QueryDef.rowsOnly("d3_simhash_pairs") { (spark, dir) =>
      // No persist: the 4 band expressions below reference the `sim` alias
      // 4 times, so CollapseProject keeps the simhash fold in its own
      // projection (computed once per row), and the self-join's two sides
      // shuffle the identical subplan on the same (band, key) — the map
      // stage is deduped by ReuseExchange.
      val sigs = Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        SimHash.simhash64(
          transform(TextTokens.tokens(col("text")), t => xxhash64(t))).as("sim"))
      val banded = sigs.select(
        col("doc_id"), col("sim"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"), SimHash.band16(col("sim"), i).as("key"))): _*)).as("bk"))
        .select(col("doc_id"), col("sim"), col("bk.band"), col("bk.key"))
      // shuffle_hash: both sides shuffle on the same (band, key) over an
      // identical subplan → ReuseExchange computes the simhash map stage
      // once (a corpus-scale frame could not broadcast at 100 TB anyway).
      val a = banded.alias("a").hint("shuffle_hash")
      val b = banded.alias("b")
      a.join(b,
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          SimHash.hamming(col("a.sim"), col("b.sim")).as("hamming"))
        // filter BEFORE distinct: hamming is pure in the pair, and random
        // 16-bit band collisions vastly outnumber real near-dups — the
        // dedup exchange should carry only the accepted set
        .filter(col("hamming") <= 3)
        .distinct()
    },

    // Cross-split leakage: canonical fingerprints that appear in more than
    // one source split (train/eval contamination through exact duplicates).
    // One shuffle on the 16-byte fingerprint; the leaked flag is a grouped
    // distinct count, no pairwise work.
    QueryDef.sql(
      "d12_cross_split_leakage",
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       COUNT(DISTINCT source) AS n_sources, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT source) > 1 AS leaked
        |FROM documents GROUP BY 1""".stripMargin) { (spark, dir) =>
      Tables.load(spark, dir, "documents")
        .groupBy(TextAnalysis.fingerprintMd5(col("text")).as("fp"))
        .agg(
          countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          (countDistinct(col("source")) > 1).as("leaked"))
    },

    // Benchmark-contamination flagging: does a document contain any n-gram
    // from a (small, literal) evaluation-set blocklist? The blocklist is a
    // broadcast-sized literal and the check is a scan-level arrays_overlap —
    // zero shuffle, linear in corpus size. At a real deployment the
    // blocklist arrives as a broadcast dim (millions of benchmark shingles
    // still fit executor memory); the plan shape is unchanged.
    QueryDef.sql(
      "d10_contamination",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(ts) >= 3 THEN list_distinct(list_transform(range(len(ts)-2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) ELSE [] END AS sh FROM t)
        |SELECT doc_id,
        |  list_has_any(sh, ['key agg row', 'scan slow fast', 'hash value table']) AS contaminated
        |FROM s""".stripMargin) { (spark, dir) =>
      val bench = Seq("key agg row", "scan slow fast", "hash value table")
      Tables.load(spark, dir, "documents").select(
        col("doc_id"),
        arrays_overlap(
          graft.functions.expr.WordShingleStrings(col("text"), 3),
          typedLit(bench)).as("contaminated"))
    },

    // Composed corpus-cleaning pipeline — the operators above chained the
    // way a training-data pipeline actually runs them: language gate →
    // quality gate → exact dedup (first doc per canonical fingerprint
    // survives). One declarative plan: the gates are scan-level filters
    // and the only shuffle is the dedup window on the 16-byte fingerprint.
    QueryDef.sql(
      "d9_clean_corpus",
      s"""WITH $cleanCorpusSql
         |SELECT doc_id, fp, n_tokens FROM f WHERE rn = 1""".stripMargin) {
      (spark, dir) => cleanCorpus(spark, dir)
    },

    // Q10: the CURATION FUNNEL report — per-stage survivor counts for the
    // full modern pipeline (language gate → quality gate → exact dedup →
    // reference-LM perplexity filter), the one-page answer to "where did
    // my corpus go?" every curation run publishes. Stages 1-4 are d9's
    // chain with each gate counted separately; stage 5 scores the dedup
    // survivors under t48's bigram LM (trained on the even-doc reference
    // split) and keeps docs above −3.43 nats/transition — an integer
    // compare in micro-nat fixed point (lp > n·T), no IEEE division.
    // Each count is a bounded scalar fold (the q2 report shape); the
    // expensive stages reuse ONE tokenization per branch via the shared
    // projection pattern.
    QueryDef.sql(
      "q10_curation_funnel",
      s"""WITH $cleanCorpusSql,
         |lang AS (SELECT doc_id, ts FROM c
         |  WHERE (CASE WHEN en + es + de + fr = 0 THEN 'und'
         |              WHEN fr > en AND fr > es AND fr > de THEN 'fr'
         |              WHEN de > en AND de > es THEN 'de'
         |              WHEN es > en THEN 'es'
         |              ELSE 'en' END) = 'en'),
         |qual AS (SELECT doc_id FROM lang
         |  WHERE len(ts) BETWEEN 10 AND 100000
         |    AND round(CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(ts), 6) >= 0.01),
         |surv AS (SELECT doc_id FROM f WHERE rn = 1),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i+1]})) AS p FROM t),
         |c2 AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY 1, 2),
         |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
         |v AS (SELECT COUNT(DISTINCT w) AS v FROM
         |        (SELECT unnest(ts) AS w FROM t WHERE doc_id % 2 = 0) WHERE w <> ''),
         |tg AS (SELECT bg.doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg JOIN surv USING (doc_id)),
         |s AS (SELECT tg.doc_id,
         |        CAST(round(ln(CAST(COALESCE(c2.c2, 0) + 1 AS DOUBLE) /
         |          (COALESCE(c1.c1, 0) + v.v)) * 1000000.0) AS BIGINT) AS lp
         |      FROM tg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v),
         |ppl AS (SELECT doc_id, COUNT(*) AS n, SUM(lp) AS lp FROM s GROUP BY 1),
         |keep AS (SELECT doc_id FROM ppl WHERE lp > n * -3430000)
         |SELECT CAST(1 AS INT) AS stage_ord, 'total' AS stage, (SELECT COUNT(*) FROM t) AS n_docs
         |UNION ALL SELECT 2, 'lang_en', (SELECT COUNT(*) FROM lang)
         |UNION ALL SELECT 3, 'quality', (SELECT COUNT(*) FROM qual)
         |UNION ALL SELECT 4, 'unique', (SELECT COUNT(*) FROM surv)
         |UNION ALL SELECT 5, 'low_perplexity', (SELECT COUNT(*) FROM keep)""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.DataFrame
      val docs = Tables.load(spark, dir, "documents")
      val base = docs.select(col("doc_id"), col("text"),
        graft.functions.TextTokens.tokens(col("text")).as("__toks"))
      val lang = base.filter(
        TextAnalysis.languageIdFromTokens(col("__toks")) === "en")
      val quality = TextAnalysis
        .qualityColumnsFromTokens(col("text"), col("__toks"), TextAnalysis.enStopwords)
        .toMap
      val qual = lang.filter(quality("quality_ok"))
      val survDocs = docs.join(
        cleanCorpus(spark, dir).select(col("doc_id")), Seq("doc_id"), "left_semi")
      val keep = graft.functions.NgramLm
        .scoreBigram(docs.filter(col("doc_id") % 2 === 0), "text",
          survDocs, "doc_id", "text")
        .filter(col("logprob_fp6") > col("n_scored") * lit(-3430000L))
      def stage(ord: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs")).select(
          lit(ord).cast("int").as("stage_ord"), lit(name).as("stage"), col("n_docs"))
      Seq(stage(1, "total", docs), stage(2, "lang_en", lang),
        stage(3, "quality", qual), stage(4, "unique", survDocs),
        stage(5, "low_perplexity", keep))
        .reduce(_ unionAll _)
        .select(col("stage_ord"), col("stage"), col("n_docs"))
    },

    // Q11: the CORPUS-BUILD funnel with TOKEN accounting — q10's report
    // extended to the full modern recipe: hold out the eval slice, gate
    // language and quality, exact-dedup, DROP decontamination suspects
    // (the GPT-3 any-13-gram rule via Decontaminate.flagOverlap), then
    // report the packed-sequence yield at 512 tokens. Each stage carries
    // BOTH surviving docs AND surviving tokens — the token-loss view a
    // curation run actually publishes (dropping 6 docs that cost 355
    // tokens is a different decision than 6 docs costing 6k). Every
    // stage is a bounded scalar fold off shared projections; the
    // composition proves d9's gates, d65's decontamination, and the
    // packing arithmetic CHAIN, not just pass alone.
    QueryDef.sql(
      "q11_corpus_build_funnel",
      """WITH t0 AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |t AS (SELECT * FROM t0 WHERE doc_id % 10 <> 7),
        |c AS (SELECT doc_id, text, ts,
        |  len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS en,
        |  len(list_filter(ts, x -> x IN ('el','la','de','y','es'))) AS es,
        |  len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS de,
        |  len(list_filter(ts, x -> x IN ('le','la','de','et','est'))) AS fr
        |  FROM t),
        |lang AS (SELECT doc_id, text, ts FROM c
        |  WHERE (CASE WHEN en + es + de + fr = 0 THEN 'und'
        |              WHEN fr > en AND fr > es AND fr > de THEN 'fr'
        |              WHEN de > en AND de > es THEN 'de'
        |              WHEN es > en THEN 'es'
        |              ELSE 'en' END) = 'en'),
        |qual AS (SELECT doc_id, text, ts FROM lang
        |  WHERE len(ts) BETWEEN 10 AND 100000
        |    AND round(CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(ts), 6) >= 0.01),
        |""".stripMargin +
        graft.functions.QualityModel.oracleCtes("qual", "qm_out") + "," +
        s"""
        |mq AS (SELECT q.doc_id, q.text, q.ts FROM qual q JOIN qm_out o ON o.doc_id = q.doc_id
        |       WHERE o.score_num_fp >= ${graft.functions.QualityModel.gateThresholdFp} * o.n_grams),""".stripMargin + """
        |fq AS (SELECT doc_id, ts,
        |        row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) ORDER BY doc_id) AS rn
        |      FROM mq),
        |uniq AS (SELECT doc_id, ts FROM fq WHERE rn = 1),
        |evsh AS (SELECT DISTINCT g FROM (
        |  SELECT unnest(CASE WHEN len(ts) >= 13
        |    THEN list_distinct(list_transform(range(len(ts)-12), i -> list_aggregate(ts[i+1:i+13], 'string_agg', ' ')))
        |    ELSE [] END) AS g FROM t0 WHERE doc_id % 10 = 7)),
        |contam AS (SELECT DISTINCT u.doc_id FROM
        |  (SELECT doc_id, unnest(CASE WHEN len(ts) >= 13
        |     THEN list_distinct(list_transform(range(len(ts)-12), i -> list_aggregate(ts[i+1:i+13], 'string_agg', ' ')))
        |     ELSE [] END) AS g FROM uniq) u JOIN evsh USING (g)),
        |clean AS (SELECT uniq.doc_id, uniq.ts FROM uniq LEFT JOIN contam USING (doc_id) WHERE contam.doc_id IS NULL),
        |funnel AS (
        |  SELECT 1 AS stage_ord, 'total' AS stage, COUNT(*) AS n_docs, COALESCE(SUM(len(ts)), 0) AS n_tokens FROM t
        |  UNION ALL SELECT 2, 'lang_en', COUNT(*), COALESCE(SUM(len(ts)), 0) FROM lang
        |  UNION ALL SELECT 3, 'quality', COUNT(*), COALESCE(SUM(len(ts)), 0) FROM qual
        |  UNION ALL SELECT 4, 'model_quality', COUNT(*), COALESCE(SUM(len(ts)), 0) FROM mq
        |  UNION ALL SELECT 5, 'unique', COUNT(*), COALESCE(SUM(len(ts)), 0) FROM uniq
        |  UNION ALL SELECT 6, 'decontaminated', COUNT(*), COALESCE(SUM(len(ts)), 0) FROM clean
        |  UNION ALL SELECT 7, 'seq512', (COALESCE(SUM(len(ts)), 0) + 511) // 512, COALESCE(SUM(len(ts)), 0) FROM clean)
        |SELECT stage_ord, stage, CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM funnel""".stripMargin) { (spark, dir) =>
      import graft.functions.{Decontaminate, TextAnalysis, TextTokens}
      import org.apache.spark.sql.DataFrame
      val docs = Tables.load(spark, dir, "documents")
      val evalSlice = docs.filter(col("doc_id") % 10 === 7)
      val base = docs.filter(col("doc_id") % 10 =!= 7)
        .select(col("doc_id"), col("text"),
          TextTokens.tokens(col("text")).as("__toks"))
      val lang = base.filter(
        TextAnalysis.languageIdFromTokens(col("__toks")) === "en")
      val quality = TextAnalysis
        .qualityColumnsFromTokens(col("text"), col("__toks"), TextAnalysis.enStopwords)
        .toMap
      val qual = lang.filter(quality("quality_ok"))
      // model-quality stage: the t57 fastText-style classifier as the
      // published pipeline's second quality gate (heuristics, then model)
      val qm = graft.functions.QualityModel
      // the scored subtree has TWO consumers (funnel stage 4 and the
      // dedup/decontam chain) — cache it or the per-gram hashing runs
      // twice (BoundedCaches: same-canonical-plan registrations dedup)
      val mq = graft.engine.BoundedCaches.persist(qual.join(
        qm.score(qual.select(col("doc_id"), col("text")), "doc_id", "text",
            qm.gateWeights(spark), qm.gateBuckets, qm.gateBiasFp, qm.gateThresholdFp)
          .filter(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
      val w = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      val uniq = mq
        .withColumn("__fp", TextAnalysis.fingerprintMd5(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("text"), col("__toks"))
      val contaminated = Decontaminate
        .flagOverlap(uniq.select(col("doc_id"), col("text")), evalSlice,
          "doc_id", "text", n = 13, minOverlap = 1L, maxDf = 0L)
        .filter(col("contaminated"))
        .select(col("doc_id"))
      val clean = uniq.join(contaminated, Seq("doc_id"), "left_anti")
      def stage(ord: Int, name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(size(col("__toks"))), lit(0)).cast("long").as("n_tokens"))
          .select(lit(ord).cast("int").as("stage_ord"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      val packed = clean
        .agg(coalesce(sum(size(col("__toks"))), lit(0)).cast("long").as("n_tokens"))
        .select(lit(7).cast("int").as("stage_ord"), lit("seq512").as("stage"),
          expr("(n_tokens + 511) div 512").as("n_docs"), col("n_tokens"))
      Seq(stage(1, "total", base), stage(2, "lang_en", lang),
        stage(3, "quality", qual), stage(4, "model_quality", mq),
        stage(5, "unique", uniq), stage(6, "decontaminated", clean))
        .reduce(_ unionAll _)
        .unionAll(packed)
    },

    // D50: CONFUSABLE-SKELETON dedup — the spoof-resistant flavor: a
    // Cyrillic 'е' renders identically to Latin 'e' but breaks every
    // byte-level fingerprint (d1's md5, d4's shingles, SimHash), which
    // is exactly how spam evades naive dedup. The skeleton (UTS #39
    // style: fold the high-traffic homoglyph table to Latin, then
    // casefold) restores one canonical key; grouping on it is d1's
    // exact-dedup shape — one hash aggregate, map-side combined, no new
    // scale machinery. Fixture plants a homoglyph-spoofed twin of every
    // supplier name, so each group must resolve to exactly the
    // (original, spoof) pair with the original as keeper.
    QueryDef.sql(
      "d50_confusable_dedup",
      """WITH base AS (
        |  SELECT s_suppkey AS id, s_name AS name FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey + 100000, translate(s_name, 'AEOPCXYaeopcxy', 'АЕОРСХУаеорсху') FROM supplier),
        |sk AS (SELECT id,
        |         lower(translate(trim(name), 'аеорсухіѕјАВЕКМНОРСТХУІЅЈ', 'aeopcyxisjABEKMHOPCTXYISJ')) AS skeleton,
        |         CASE WHEN translate(name, 'аеорсухіѕјАВЕКМНОРСТХУІЅЈ', 'aeopcyxisjABEKMHOPCTXYISJ') <> name
        |              THEN 1 ELSE 0 END AS spoofed
        |       FROM base)
        |SELECT skeleton, CAST(COUNT(*) AS BIGINT) AS n_variants,
        |  CAST(MIN(id) AS BIGINT) AS keeper_id,
        |  CAST(SUM(spoofed) AS BIGINT) AS n_spoofed
        |FROM sk GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin) { (spark, dir) =>
      val sup = Tables.load(spark, dir, "supplier")
      val base = sup.select(col("s_suppkey").cast("long").as("id"), col("s_name").as("name"))
        .unionAll(sup.select((col("s_suppkey") + 100000).cast("long").as("id"),
          translate(col("s_name"), "AEOPCXYaeopcxy", "АЕОРСХУаеорсху").as("name")))
      base.select(col("id"),
          TextAnalysis.confusableSkeleton(col("name")).as("skeleton"),
          when(translate(col("name"), TextAnalysis.confusablesFrom,
            TextAnalysis.confusablesTo) =!= col("name"), 1L).otherwise(0L).as("spoofed"))
        .groupBy(col("skeleton"))
        .agg(count(lit(1)).as("n_variants"), min(col("id")).as("keeper_id"),
          sum(col("spoofed")).as("n_spoofed"))
        .filter(col("n_variants") >= 2)
    },

    // D51: HITS hubs & authorities (Kleinberg) over the supplier→part
    // co-supply bipartite graph — the link-structure quality signal for
    // web-corpus curation (a page linked by good hubs is a good
    // authority), exercised here on lineitem's supply edges: a part's
    // authority is the summed hub weight of its suppliers; a supplier's
    // hub weight is the summed authority of its catalog. Two synchronous
    // rounds in EXACT BIGINT (no L2 normalization — IEEE-order-dependent
    // and rank-irrelevant; see operators/Hits.scala for the overflow
    // guard). Part ids are offset by 1e9 into a disjoint vertex range.
    // Per round: two edge-keyed shuffle joins + map-side-combined sums —
    // the PageRank cost profile, lineage truncated per round.
    QueryDef.sql(
      "d51_hits_scores",
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |                  CAST(l_partkey + 1000000000 AS BIGINT) AS dst FROM lineitem),
        |n AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
        |a1 AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY 1),
        |af1 AS (SELECT n.v, COALESCE(a1.a, 0) AS a FROM n LEFT JOIN a1 ON a1.v = n.v),
        |h1 AS (SELECT e.src AS v, SUM(af1.a) AS h FROM e JOIN af1 ON af1.v = e.dst GROUP BY 1),
        |hf1 AS (SELECT n.v, COALESCE(h1.h, 0) AS h FROM n LEFT JOIN h1 ON h1.v = n.v),
        |a2 AS (SELECT e.dst AS v, SUM(hf1.h) AS a FROM e JOIN hf1 ON hf1.v = e.src GROUP BY 1),
        |af2 AS (SELECT n.v, COALESCE(a2.a, 0) AS a FROM n LEFT JOIN a2 ON a2.v = n.v),
        |h2 AS (SELECT e.src AS v, SUM(af2.a) AS h FROM e JOIN af2 ON af2.v = e.dst GROUP BY 1)
        |SELECT n.v, CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
        |       CAST(af2.a AS BIGINT) AS authority
        |FROM n LEFT JOIN h2 ON h2.v = n.v JOIN af2 ON af2.v = n.v""".stripMargin) { (spark, dir) =>
      val edges = Tables.load(spark, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + 1000000000L).cast("long").as("dst"))
        .distinct()
      graft.operators.Hits.run(edges, rounds = 2)
    },

    // D53: BFS hop distances (operators/Bfs) — reachability WITH distance,
    // the blast-radius primitive (how much of the corpus sits within k
    // dedup-links / citation-hops of a seed) the graph family lacked: CC
    // answers "connected at all", PageRank/HITS "how important"; this
    // answers "how far". Undirected wave from supplier 1 over the
    // symmetrized supplier→part co-supply graph, capped at 3 hops — the
    // oracle is the definitional bounded-depth recursion (min over all
    // walks of length ≤ 3), so the frontier/anti-join formulation is
    // checked against the definition. Per round: ONE edge-keyed shuffle
    // join + distinct + vertex-scale anti-join, one action, RDD-leaf
    // re-rooting per level (the PageRank lineage rule).
    QueryDef.sql(
      "d53_bfs_distances",
      """WITH RECURSIVE e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |        CAST(l_partkey + 1000000000 AS BIGINT) AS dst FROM lineitem),
        |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
        |walk(v, d) AS (
        |  SELECT CAST(1 AS BIGINT) AS v, 0 AS d
        |  UNION
        |  SELECT ue.dst, walk.d + 1 FROM walk JOIN ue ON ue.src = walk.v WHERE walk.d < 3
        |)
        |SELECT v, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY v""".stripMargin) { (spark, dir) =>
      val e = Tables.load(spark, dir, "lineitem")
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + 1000000000L).cast("long").as("dst"))
        .distinct()
      val ue = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))
        .select(col("src"), col("dst")))
      val sources = spark.range(1, 2).select(col("id").as("v"))
      graft.operators.Bfs.hopDistances(ue, sources, maxHops = 3)
        .select(col("v"), col("dist"))
    },

    // D54: strongly connected components (operators/Scc) — the DIRECTED
    // reachability partner CC can't express: link graphs and citation
    // networks are directed, and "mutually reachable" (cycles, link
    // farms, spider traps) is the structure that matters for ranking and
    // crawl dedup. Graph: supplier→supplier "handoff" edges (consecutive
    // lineitems within an order, by linenumber) thinned to l_quantity<5 —
    // a ~7-edges/vertex digraph with a giant cyclic core plus trimmable
    // periphery. The oracle is the DEFINITIONAL quadratic: a recursive
    // transitive closure joined to its transpose (u,v mutual ⇔ same SCC)
    // — exactly what the trim+color+sweep formulation exists to avoid at
    // scale, so the linear-rounds plan is checked against the definition.
    QueryDef.sql(
      "d54_scc",
      s"""WITH $handoffGraphSql,
        |reach AS (
        |  WITH RECURSIVE r(a, b) AS (
        |    SELECT src, dst FROM edges
        |    UNION
        |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src
        |  ) SELECT * FROM r),
        |mutual AS (SELECT r1.a AS v, r1.b AS u
        |           FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a)
        |SELECT v.id, least(v.id, coalesce(min(m.u), v.id)) AS scc
        |FROM verts v LEFT JOIN mutual m ON m.v = v.id
        |GROUP BY v.id""".stripMargin) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
      graft.operators.Scc.components(verts, "id", edges, "src", "dst")
    },

    // D55: Jaro–Winkler best-match linkage — the record-linkage scorer
    // levenshtein (d37) can't replace: JW weighs POSITION and shared
    // PREFIX, the standard for short names/titles (Winkler 1990, US
    // Census). The scorer is the native expression
    // functions/expr/JaroWinkler, pinned BYTE-identical to DuckDB's
    // jaro_winkler_similarity (IEEE op order and all — ties in the argmax
    // therefore agree bitwise, no rounding cliff). Shape: d37's blocking
    // rule (first-token equi-join, never an all-pairs cross; a hot-block
    // cap is the documented 100 TB knob), pairs evaluated once (a<b) and
    // mirrored, then ONE map-side-combined argmax — max(struct(jw, -id,
    // id)) — so the exchange carries |parts| rows, not |pairs|. Singleton
    // blocks emit nothing.
    QueryDef.sql(
      "d55_jw_best_match",
      """WITH p AS (SELECT p_partkey AS id, p_name AS name,
        |            split_part(p_name, ' ', 1) AS blk FROM part),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b,
        |         jaro_winkler_similarity(a.name, b.name) AS jw
        |       FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id),
        |sym AS (SELECT id_a, id_b, jw FROM pr
        |        UNION ALL SELECT id_b, id_a, jw FROM pr),
        |rk AS (SELECT id_a, id_b, jw,
        |         row_number() OVER (PARTITION BY id_a ORDER BY jw DESC, id_b) AS rn
        |       FROM sym)
        |SELECT id_a, id_b AS best_id, round(jw, 6) AS jw
        |FROM rk WHERE rn = 1""".stripMargin) { (spark, dir) =>
      val p = Tables.load(spark, dir, "part")
        .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"),
          element_at(split(col("p_name"), " "), 1).as("blk"))
      val a = p.select(col("id").as("id_a"), col("name").as("na"), col("blk"))
      val b = p.select(col("id").as("id_b"), col("name").as("nb"), col("blk"))
      // Output-expanding join off a single small parquet file: the probe
      // side arrives as ~1 task while the JOIN's output is |pairs|-sized,
      // so fan the probe stream across all cores first (the
      // Similarity.bruteForce spread rule; a no-op on a real multi-file
      // layout) and pin the build side broadcast.
      val par = spark.sparkContext.defaultParallelism
      val aSpread = if (a.rdd.getNumPartitions < par) a.repartition(par) else a
      val pr = aSpread.join(broadcast(b), Seq("blk")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.functions.expr.JaroWinkler(col("na"), col("nb")).as("jw"))
      val sym = pr.select(col("id_a"), col("id_b"), col("jw"))
        .unionAll(pr.select(col("id_b").as("id_a"), col("id_a").as("id_b"), col("jw")))
      sym.groupBy(col("id_a"))
        .agg(max(struct(col("jw"), (-col("id_b")).as("nib"), col("id_b"))).as("m"))
        .select(col("id_a"), col("m.id_b").as("best_id"),
          round(col("m.jw"), 6).as("jw"))
    },

    // D56: TrustRank (Gyöngyi et al., VLDB 2004) — personalized PageRank
    // with teleport restricted to a trusted seed set, the web-spam
    // demotion pass of corpus curation: trust flows OUT of the whitelist
    // along links, and pages unreachable from every seed starve to rank
    // 0 (the property the spec pins on a spam island). Same exact
    // 64-bit fixed-point arithmetic as d21 (bit-identical across
    // engines/partitionings), dangling mass teleporting to the SEEDS;
    // graph = d54's supplier handoff digraph, seeds = vertices with
    // id % 10 = 1. Oracle is the identical 3-round recurrence unrolled.
    QueryDef.sql(
      "d56_trustrank", {
        val base =
          s"""WITH $handoffGraphSql,
            |seeds AS (SELECT id FROM verts WHERE id % 10 = 1),
            |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM seeds),
            |vv AS (SELECT v.id AS v, CASE WHEN s.id IS NULL THEN 0 ELSE 1 END AS s
            |       FROM verts v LEFT JOIN seeds s ON s.id = v.id),
            |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
            |r0 AS (SELECT v, s, s * (1000000000000 // ns.k) AS r FROM vv CROSS JOIN ns)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""d$i AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang
             |        FROM r${i - 1} LEFT JOIN deg ON v = src WHERE src IS NULL),
             |c$i AS (SELECT e.dst AS v, CAST(SUM(r.r // deg.deg) AS BIGINT) AS contrib
             |        FROM edges e JOIN r${i - 1} r ON r.v = e.src
             |             JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT vv.v, vv.s,
             |          (15 * (vv.s * (1000000000000 // ns.k))) // 100
             |            + (85 * (COALESCE(c.contrib, 0) + vv.s * (d.dang // ns.k))) // 100 AS r
             |        FROM vv CROSS JOIN ns CROSS JOIN d$i d LEFT JOIN c$i c ON c.v = vv.v)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT v, r FROM r3"
      }) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      // Dataset.union keeps duplicates (SQL UNION dedups) — trustRank's
      // nodes contract is the distinct vertex set, like d21's.
      val verts = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct()
      val seeds = verts.filter(col("v") % 10 === 1)
      graft.operators.PageRank.trustRank(verts, edges, seeds, iters = 3)
    },

    // D57: DeepWalk random-walk corpus (operators/RandomWalks) — the
    // sentence-corpus prep for graph-embedding training (Perozzi et al.
    // KDD'14): 2 walks × 8 steps from every vertex of the handoff
    // digraph. The "random" hop is a HASH-CHOSEN neighbor index (modular
    // mix over (seed, walk, step, v), then mod deg on the dst-sorted
    // adjacency), so the oracle replays every hop with a recursive CTE
    // running the IDENTICAL arithmetic — the full walk corpus hashes.
    // Every mix intermediate is bounded ≪ 2^63: DuckDB raises on BIGINT
    // overflow rather than wrapping, so parity requires staying in
    // range. Per step: one vertex-keyed deg join + one (src, idx)
    // edge-keyed join; dangling vertices end their walk.
    QueryDef.sql(
      "d57_deepwalk_corpus",
      s"""WITH RECURSIVE $handoffGraphSql,
        |adj AS (SELECT src, dst,
        |          CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
        |          CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |        FROM edges),
        |wids AS (SELECT CAST(unnest(range(2)) AS BIGINT) AS w),
        |wk(seed, w, step, v) AS (
        |  SELECT id, w, CAST(0 AS BIGINT), id FROM verts CROSS JOIN wids
        |  UNION ALL
        |  SELECT wk.seed, wk.w, wk.step + 1, adj.dst
        |  FROM wk JOIN adj ON adj.src = wk.v
        |   AND adj.idx = (((wk.seed % 1000003) * 2654435761 + wk.w * 40503
        |                   + (wk.step + 1) * 65599 + (wk.v % 1000003) * 97)
        |                  % 1000000007) % adj.deg
        |  WHERE wk.step < 8)
        |SELECT seed, w AS walk, step, v FROM wk""".stripMargin) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      val seeds = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct()
      graft.operators.RandomWalks.deepWalks(edges, seeds, length = 8, walksPerSeed = 2)
    },

    // D61: node2vec-biased walks (Grover & Leskovec KDD'16) — d57's
    // scaffold with the SECOND-ORDER transition: each candidate hop is
    // weighted by where it sits relative to the PREVIOUS vertex (return
    // 1 / triangle-close 2 / explore 4 — the integer family 1/p, 1, 1/q
    // cleared of denominators), and the hop is the hash-chosen point on
    // the candidates' exact cumulative-weight line. The oracle UNROLLS
    // all four steps in plain SQL (candidate tagging via a (prev, dst)
    // left join, per-walker cumulative windows, the identical mix
    // arithmetic), so every weighted choice hashes — the d56/d59
    // unrolled-recurrence pattern applied to a stochastic process.
    QueryDef.sql(
      "d61_node2vec_walks", {
        val mixr = (t: Int) =>
          s"(((seed % 1000003) * 2654435761 + $t * 65599 + (v % 1000003) * 97) % 1000000007)"
        val steps = (1 to 4).map { t =>
          s"""c$t AS (SELECT f.seed, f.prev, f.v, a.dst, a.idx,
             |    CAST(CASE WHEN f.prev = -1 THEN 2
             |         WHEN a.dst = f.prev THEN 1
             |         WHEN ep.src IS NOT NULL THEN 2
             |         ELSE 4 END AS BIGINT) AS w
             |  FROM f${t - 1} f JOIN adj a ON a.src = f.v
             |  LEFT JOIN edges ep ON ep.src = f.prev AND ep.dst = a.dst),
             |w$t AS (SELECT seed, prev, v, dst, w,
             |    CAST(SUM(w) OVER (PARTITION BY seed, v, prev ORDER BY idx) AS BIGINT) AS cum,
             |    ${mixr(t)} % CAST(SUM(w) OVER (PARTITION BY seed, v, prev) AS BIGINT) AS r
             |  FROM c$t),
             |f$t AS (SELECT seed, v AS prev, dst AS v FROM w$t
             |  WHERE cum - w <= r AND r < cum)""".stripMargin
        }.mkString(",\n")
        s"""WITH $handoffGraphSql,
           |adj AS (SELECT src, dst,
           |  CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx
           |  FROM edges),
           |f0 AS (SELECT id AS seed, CAST(-1 AS BIGINT) AS prev, id AS v FROM verts),
           |$steps
           |SELECT seed, CAST(0 AS BIGINT) AS step, v FROM f0
           |UNION ALL SELECT seed, CAST(1 AS BIGINT), v FROM f1
           |UNION ALL SELECT seed, CAST(2 AS BIGINT), v FROM f2
           |UNION ALL SELECT seed, CAST(3 AS BIGINT), v FROM f3
           |UNION ALL SELECT seed, CAST(4 AS BIGINT), v FROM f4""".stripMargin
      }) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      val seeds = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct()
      graft.operators.RandomWalks.node2vecWalks(edges, seeds, length = 4,
        wBack = 1L, wCommon = 2L, wForward = 4L)
    },

    // D62: skip-gram training pairs from the walk corpus — the last
    // stage of the graph-embedding prep chain (walks → (center, context)
    // pairs → training file): within each walk, every ordered pair of
    // positions at distance 1..2 emits one co-occurrence, aggregated to
    // (center, context, n) — exactly word2vec's window over d57's
    // "sentences". ONE self-join of the walk corpus on its (seed, walk)
    // key with the |Δstep| ≤ window predicate riding the join (walk
    // length bounds the fan-out: ≤ 2·window pairs per position), then a
    // map-side-combined count. Pair symmetry ((a,b) and (b,a) both
    // appear, from the two orderings) is the word2vec convention.
    QueryDef.sql(
      "d62_skipgram_pairs",
      s"""WITH RECURSIVE $handoffGraphSql,
        |adj AS (SELECT src, dst,
        |          CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
        |          CAST(COUNT(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |        FROM edges),
        |wids AS (SELECT CAST(unnest(range(2)) AS BIGINT) AS w),
        |wk(seed, w, step, v) AS (
        |  SELECT id, w, CAST(0 AS BIGINT), id FROM verts CROSS JOIN wids
        |  UNION ALL
        |  SELECT wk.seed, wk.w, wk.step + 1, adj.dst
        |  FROM wk JOIN adj ON adj.src = wk.v
        |   AND adj.idx = (((wk.seed % 1000003) * 2654435761 + wk.w * 40503
        |                   + (wk.step + 1) * 65599 + (wk.v % 1000003) * 97)
        |                  % 1000000007) % adj.deg
        |  WHERE wk.step < 8)
        |SELECT a.v AS center, b.v AS context, CAST(COUNT(*) AS BIGINT) AS n
        |FROM wk a JOIN wk b
        |  ON a.seed = b.seed AND a.w = b.w AND a.step <> b.step
        | AND abs(a.step - b.step) <= 2
        |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      val seeds = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct()
      val wk = graft.operators.RandomWalks.deepWalks(edges, seeds,
        length = 8, walksPerSeed = 2)
      val a = wk.select(col("seed"), col("walk"), col("step").as("sa"), col("v").as("center"))
      val b = wk.select(col("seed"), col("walk"), col("step").as("sb"), col("v").as("context"))
      a.join(b, Seq("seed", "walk"))
        .filter(col("sa") =!= col("sb") && abs(col("sa") - col("sb")) <= 2)
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n"))
    },

    // D63: Luby maximal independent set (operators/Mis) — distributed
    // symmetry breaking: the largest-practical batch of mutually-safe
    // items over a conflict graph (near-dups that must not ship
    // together, migrations that can't run concurrently). d33's keeper
    // election picks one per component; MIS picks a maximal
    // NON-ADJACENT set across the whole graph. Per-round priorities are
    // the replayable (vertex, round) mix, so the oracle unrolls the
    // SAME 8 rounds (the d61 stochastic-unroll pattern) and the whole
    // membership vector hashes; a graph needing more rounds makes the
    // Spark side REFUSE loudly rather than silently diverge.
    QueryDef.sql(
      "d63_luby_mis", {
        // AS MATERIALIZED on every multiply-referenced CTE: DuckDB
        // inlines plain CTEs, and 8 rounds each referencing their
        // predecessor 3x would expand 3^8 copies of the base scan
        // (observed as file-handle exhaustion before any wrong answer).
        val rounds = (0 until 8).map { r =>
          s"""p$r AS MATERIALIZED (SELECT id, ((id % 1000003) * 2654435761 + $r * 65599) % 1000000007 AS p
             |        FROM l$r),
             |n$r AS MATERIALIZED (SELECT e.dst AS id, MIN((q.p, q.id)) AS np
             |        FROM ue e JOIN p$r q ON q.id = e.src GROUP BY 1),
             |c$r AS MATERIALIZED (SELECT p.id FROM p$r p LEFT JOIN n$r n ON n.id = p.id
             |        WHERE n.np IS NULL OR (p.p, p.id) < n.np),
             |d$r AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM ue e JOIN c$r c ON c.id = e.src),
             |l${r + 1} AS MATERIALIZED (SELECT l.id FROM l$r l
             |        LEFT JOIN c$r c ON c.id = l.id
             |        LEFT JOIN d$r dd ON dd.id = l.id
             |        WHERE c.id IS NULL AND dd.id IS NULL)""".stripMargin
        }.mkString(",\n")
        val misUnion = (0 until 8).map(r => s"SELECT id FROM c$r").mkString(" UNION ALL ")
        s"""WITH $handoffGraphSql,
           |ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM
           |         (SELECT src, dst FROM edges
           |          UNION ALL SELECT dst AS src, src AS dst FROM edges)),
           |l0 AS MATERIALIZED (SELECT id FROM verts),
           |$rounds,
           |mis AS ($misUnion)
           |SELECT v.id, (m.id IS NOT NULL) AS in_mis
           |FROM verts v LEFT JOIN mis m ON m.id = v.id""".stripMargin
      }) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      graft.operators.Mis.maximalIndependentSet(
        verts, "id", edges, "src", "dst", maxRounds = 8)
    },

    // D64: WEIGHTED PageRank (PageRank.runWeighted) — d21's loop with
    // per-edge transition mass: each vertex ships (r·w) div W(v) along
    // its edges, with w = the handoff MULTIPLICITY (how often the
    // supplier pair actually co-occurred — the natural link strength the
    // distinct-edge graph throws away). Same exact fixed-point
    // discipline; the oracle is the identical 3-round weighted
    // recurrence unrolled (the d21 SQL with the weighted share).
    QueryDef.sql(
      "d64_weighted_pagerank", {
        val base =
          s"""WITH $handoffGraphSql,
            |wedges AS MATERIALIZED (
            |  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
            |         CAST(COUNT(*) AS BIGINT) AS w
            |  FROM el WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
            |wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS sumw FROM wedges GROUP BY 1),
            |params AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts),
            |r0 AS (SELECT id AS v, 1000000000000 // p.n AS r FROM verts CROSS JOIN params p)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""d$i AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang
             |        FROM r${i - 1} LEFT JOIN wdeg ON v = src WHERE src IS NULL),
             |c$i AS (SELECT e.dst AS v, CAST(SUM((r.r * e.w) // wd.sumw) AS BIGINT) AS contrib
             |        FROM wedges e JOIN r${i - 1} r ON r.v = e.src
             |             JOIN wdeg wd ON wd.src = e.src GROUP BY 1),
             |r$i AS (SELECT vv.id AS v,
             |          ((1000000000000 * 15) // 100) // p.n
             |            + (85 * (COALESCE(c.contrib, 0) + (d.dang // p.n))) // 100 AS r
             |        FROM verts vv CROSS JOIN params p CROSS JOIN d$i d
             |        LEFT JOIN c$i c ON c.v = vv.id)""".stripMargin
        }.mkString(",\n")
        s"$base,\n$rounds\nSELECT v, r AS rank_fp FROM r3"
      }) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wedges = Tables.load(spark, dir, "lineitem")
        .filter(col("l_quantity") < 5)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"), col("l_partkey"))
        .withColumn("src",
          lag(col("l_suppkey"), 1).over(
            Window.partitionBy(col("l_orderkey"))
              .orderBy(col("l_linenumber"), col("l_suppkey"), col("l_partkey"))))
        .filter(col("src").isNotNull && col("src") =!= col("l_suppkey"))
        .groupBy(col("src").cast("long").as("src"),
          col("l_suppkey").cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
      val verts = wedges.select(col("src").as("v"))
        .union(wedges.select(col("dst").as("v"))).distinct()
      graft.operators.PageRank.runWeighted(verts, wedges, iters = 3)
        .select(col("v"), col("r").as("rank_fp"))
    },

    // Cross-document boilerplate detection: a token 3-gram that recurs in
    // ≥5 distinct docs is template text (header/footer/nav chrome), and
    // each doc reports what share of its grams is boilerplate — the
    // n-gram-granularity counterpart of CCNet's line-level dedup (this
    // corpus has no newlines). Single linear chain, no self-join: the gram
    // stream collapses to per-(gram, doc) counts, the gram's document
    // frequency is a COUNT() OVER (PARTITION BY gram) on that compressed
    // pair set (one row per (gram, doc) = distinct-doc count), and the
    // per-doc roll-up follows — one scan + shingling pass, three keyed
    // shuffles, all on pair-set-sized data (pinned in PlanSpec). Docs with
    // <3 tokens have no grams and no row.
    QueryDef.sql(
      "d19_boilerplate_ngrams",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |g AS (SELECT doc_id, array_to_string(list_slice(ts, i, i+2), ' ') AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(ts)-1)) AS i) r),
        |p AS (SELECT gram, doc_id, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        |w AS (SELECT doc_id, cnt, COUNT(*) OVER (PARTITION BY gram) AS nd FROM p)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN nd >= 5 THEN cnt ELSE 0 END) AS BIGINT) AS n_boiler,
        |       round(CAST(SUM(CASE WHEN nd >= 5 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt), 6) AS boiler_fraction
        |FROM w GROUP BY 1""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pairCounts = Tables.load(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.expr.WordShingleStrings(
            col("text"), 3, distinct = false)).as("gram"))
        .groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("cnt"))
      pairCounts
        .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("gram"))))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).as("n_grams"),
          sum(when(col("nd") >= 5, col("cnt")).otherwise(0L)).as("n_boiler"))
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_grams"), 6).as("boiler_fraction"))
    },

    // Segment-level dedup with document REASSEMBLY — CCNet's line-level
    // dedup loop end to end (d19 only scores; this one rewrites). The
    // corpus has no newlines, so the "line" unit is a non-overlapping
    // 8-token segment; the plan is identical for real lines: posexplode
    // segments with position → per-segment distinct-doc frequency (one
    // segment-keyed agg shuffle) → join frequencies back to the positioned
    // stream (AQE broadcasts the vocab side when it fits) → drop segments
    // seen in ≥2 distinct docs → reassemble surviving segments in
    // position order (collect_list skips the nulled boilerplate, one
    // doc-keyed shuffle). A final left join from the base table keeps
    // fully-boilerplate docs as empty rows — at 100 TB the rewrite must
    // preserve the doc set so downstream joins stay total. Threshold 2 is
    // the test-corpus setting; production uses higher cutoffs.
    QueryDef.sql(
      "d20_segment_dedup",
      """WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, i AS pos, array_to_string(list_slice(ts, (i-1)*8+1, (i-1)*8+8), ' ') AS seg
        |      FROM d, LATERAL (SELECT unnest(range(1, CAST(ceil(len(ts)/8.0) AS BIGINT) + 1)) AS i) r
        |      WHERE array_to_string(list_slice(ts, (i-1)*8+1, (i-1)*8+8), ' ') <> ''),
        |f AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM s GROUP BY seg),
        |r AS (SELECT s.doc_id, COUNT(*) AS n_total,
        |        COUNT(CASE WHEN f.nd < 2 THEN 1 END) AS n_kept,
        |        COALESCE(string_agg(CASE WHEN f.nd < 2 THEN s.seg END, ' ' ORDER BY s.pos), '') AS clean_text
        |      FROM s JOIN f USING (seg) GROUP BY s.doc_id)
        |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
        |       COALESCE(r.n_total, 0) AS n_total, COALESCE(r.n_kept, 0) AS n_kept
        |FROM d LEFT JOIN r USING (doc_id)""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      // tokens materialize before the segment lambda (inline split would
      // re-run per segment position in the interpreted HOF)
      val toks = col("__toks")
      val nseg = ceil(size(toks) / lit(8.0)).cast("int")
      val segs = docs
        .select(col("doc_id"), TextTokens.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), nseg),
            i => concat_ws(" ", slice(toks, (i - 1) * 8 + 1, lit(8))))))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "seg")
        .filter(col("seg") =!= "")
      val segDf = segs.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      val rebuilt = segs.join(segDf, "seg")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("nd") < 2, 1)).as("n_kept"),
          concat_ws(" ",
            transform(
              array_sort(collect_list(when(col("nd") < 2,
                struct(col("p").as("p"), col("seg").as("s"))))),
              e => e.getField("s"))).as("clean_text"))
      docs.select(col("doc_id")).join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("clean_text"), lit("")).as("clean_text"),
          coalesce(col("n_total"), lit(0L)).as("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    },

    // Fixed-point PageRank over the near-dup graph (d4's Jaccard pairs,
    // undirected → both directions): centrality inside duplicate clusters —
    // the canonical-representative signal when picking which near-dup to
    // KEEP (highest-rank doc is the hub the others orbit). All arithmetic
    // is 64-bit integer floor division at 1e12 scale (graft.operators
    // .PageRank), so Spark and DuckDB agree bit-for-bit — float PageRank
    // can never hash-match across engines. The oracle unrolls the same 5
    // synchronous rounds as CTEs; DuckDB `//` == Spark `div` on
    // non-negative operands, and every SUM is cast back to BIGINT (DuckDB
    // widens to HUGEINT).
    QueryDef.sql(
      "d21_pagerank", {
        val pairGraph =
          s"""WITH $shingleGraphSql,
             |$jaccardPairsSql,
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
            |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
            |nodes AS (SELECT doc_id AS v FROM documents),
            |params AS (SELECT COUNT(*) AS n FROM nodes),
            |r0 AS (SELECT v, 1000000000000 // p.n AS r FROM nodes CROSS JOIN params p)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""d$i AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang FROM r${i - 1} LEFT JOIN deg ON v = src WHERE src IS NULL),
             |c$i AS (SELECT e.dst AS v, CAST(SUM(r.r // deg.deg) AS BIGINT) AS contrib
             |        FROM edges e JOIN r${i - 1} r ON r.v = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT n.v, ((1000000000000 * 15) // 100) // p.n + (85 * (COALESCE(c.contrib, 0) + (d.dang // p.n))) // 100 AS r
             |        FROM nodes n CROSS JOIN params p CROSS JOIN d$i d LEFT JOIN c$i c ON c.v = n.v)""".stripMargin
        }.mkString(",\n")
        s"$pairGraph,\n$rounds\nSELECT v AS doc_id, r AS rank_fp FROM r5"
      }) { (spark, dir) =>
      // NOT cached (measured): PageRank's edges.persist() materializes
      // the union once, and ReuseExchange already dedupes the shingle
      // self-join exchange across the two branches — inserting an
      // InMemoryRelation boundary here measured 7 s → 23 s at sf0.1.
      // r19 negative A/B (kept honest): symmetrizing with ONE pass
      // (explode(array(struct(a,b), struct(b,a)))) instead of this union
      // measured 4.74 s vs 4.43 s back-to-back idle — the union's
      // duplicated work above the last shared exchange (final pair
      // aggregate + sizes joins + Jaccard filter) is already absorbed by
      // AQE stage reuse, so the explode only added a Generate pass.
      // Reverted; the union stands.
      val pairs = jaccardPairs(spark, dir).select(col("id_a"), col("id_b"))
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val nodes = Tables.load(spark, dir, "documents").select(col("doc_id").as("v"))
      // run's result stays cached (vertex-count × 16 bytes), released by
      // the session cache, as d13's is.
      graft.operators.PageRank.run(nodes, edges, iters = 5)
        .select(col("v").as("doc_id"), col("r").as("rank_fp"))
    },

    // D72: domain-graph PageRank — the WEB-GRAPH curation signal
    // (TrustRank-flavor: rank crawl domains by link centrality before
    // spending quota on them), composed from two existing families: the
    // WAT link extractor (s19's WatMeta — hrefs + RFC 3986 resolution
    // over real HTML) builds the host→host edge set, and the d21
    // integer fixed-point PageRank ranks it. The link fixture makes the
    // domain graph closed-form: every page on host src{i} links to
    // src{(i+1)%20} and src{(7i+3)%20} (the second target is
    // k-independent because 140k ≡ 0 mod 20), self-loops never occur,
    // and hosts i ∈ {3,13} emit COINCIDING targets — so the DISTINCT
    // edge set is 38, making edge dedup load-bearing. The oracle builds
    // the same graph from range(20) arithmetic and unrolls the same 5
    // synchronous integer rounds (the d21 CTE template); ranks must
    // agree bit-for-bit.
    QueryDef.sql(
      "d72_domain_pagerank", {
        val graph =
          """WITH nodes AS (SELECT range AS v FROM range(20)),
            |edges AS (SELECT v AS src, (v + 1) % 20 AS dst FROM nodes
            |          UNION SELECT v, (7 * v + 3) % 20 FROM nodes),
            |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
            |params AS (SELECT COUNT(*) AS n FROM nodes),
            |r0 AS (SELECT v, 1000000000000 // p.n AS r FROM nodes CROSS JOIN params p)""".stripMargin
        val rounds = (1 to 5).map { i =>
          s"""d$i AS (SELECT CAST(COALESCE(SUM(r), 0) AS BIGINT) AS dang FROM r${i - 1} LEFT JOIN deg ON v = src WHERE src IS NULL),
             |c$i AS (SELECT e.dst AS v, CAST(SUM(r.r // deg.deg) AS BIGINT) AS contrib
             |        FROM edges e JOIN r${i - 1} r ON r.v = e.src JOIN deg ON deg.src = e.src GROUP BY e.dst),
             |r$i AS (SELECT n.v, ((1000000000000 * 15) // 100) // p.n + (85 * (COALESCE(c.contrib, 0) + (d.dang // p.n))) // 100 AS r
             |        FROM nodes n CROSS JOIN params p CROSS JOIN d$i d LEFT JOIN c$i c ON c.v = n.v)""".stripMargin
        }.mkString(",\n")
        s"""$graph,
           |$rounds
           |SELECT 'src' || CAST(v AS VARCHAR) || '.example.com' AS host, r AS rank_fp FROM r5""".stripMargin
      }) { (spark, dir) =>
      import graft.functions.WatMeta
      val m20 = pmod(col("doc_id"), lit(20L))
      val html = concat(
        lit("<html><body><a href=\"https://src"), (m20 + 1) % 20,
        lit(".example.com/a\">n</a><a href='https://src"),
        (col("doc_id") * 7 + 3) % 20,
        lit(".example.com/b'>m</a></body></html>"))
      val links = Tables.load(spark, dir, "documents")
        .select(concat(lit("https://src"), m20, lit(".example.com/p"), col("doc_id")).as("uri"),
          html.as("body"))
        .select(col("uri"), explode(WatMeta.hrefs(col("body"))).as("href"))
        .select(
          regexp_extract(col("uri"), "^https://src(\\d+)\\.", 1).cast("long").as("src"),
          regexp_extract(WatMeta.resolve(col("uri"), col("href")),
            "^https://src(\\d+)\\.", 1).cast("long").as("dst"))
      val edges = links.filter(col("src") =!= col("dst")).distinct()
      val nodes = edges.select(col("src").as("v")).distinct()
      graft.operators.PageRank.run(nodes, edges, iters = 5)
        .select(concat(lit("src"), col("v"), lit(".example.com")).as("host"),
          col("r").as("rank_fp"))
    },

    // D22: exact bag-of-words cosine near-dup pairs — the sparse-vector
    // twin of d7's dense-embedding cosine, with a STATS-DRIVEN plan choice
    // (measure, don't guess — the two regimes differ by ~75× here):
    //
    //  * dense regime (vocabulary ≤ 1024 distinct terms — this synthetic
    //    corpus has 31): every doc-pair shares terms, so no inverted-index
    //    pruning can help (candidates ≈ all pairs by construction).
    //    Pivot each doc to a dense TF vector over the sorted vocab,
    //    broadcast one side, and run the codegen'd ArrayDotProduct over
    //    the id-ordered pair stream — zero pair-space shuffle, the d5
    //    broadcast pattern. Integer TFs in double are exact (< 2^53), so
    //    the dot equals the oracle's integer sum bit for bit.
    //  * sparse regime (real text, unbounded vocab): exact All-Pairs
    //    prefix filtering (Bayardo et al., WWW'07). Order every vector by
    //    global document frequency DESCENDING with running prefix bound
    //    b_p = Σ_{j≤p} w_j·maxw(g_j) over normalized weights; index a term
    //    only where b_p ≥ t − ε. For any pair, dot(x,y) ≤ b_x at the LAST
    //    shared term, so every ≥t pair shares an indexed-in-both term — no
    //    false negatives (ε covers float rounding; extra candidates die in
    //    exact verification). Stopwords sit at the HEAD of the order where
    //    b < t, so the k²-per-term blowup of the naive inverted index
    //    never materializes; the surviving candidates get exact integer
    //    dots over the full vectors.
    //
    // Both paths emit the identical IEEE cosine tree, so the one oracle
    // (and the naive all-pairs recompute in CorpusStatsSpec) pins both.
    QueryDef.sql(
      "d22_tf_cosine_pairs",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |f AS (SELECT doc_id, g, COUNT(*) AS tf FROM (SELECT doc_id, unnest(ts) AS g FROM t) WHERE g <> '' GROUP BY 1, 2),
        |z2 AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM f GROUP BY 1),
        |p2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
        |       FROM f a JOIN f b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(dot AS DOUBLE) / sqrt(CAST(za.n2 AS DOUBLE) * CAST(zb.n2 AS DOUBLE)), 6) AS cosine
        |FROM p2 JOIN z2 za ON id_a = za.doc_id JOIN z2 zb ON id_b = zb.doc_id
        |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(za.n2 AS DOUBLE) * CAST(zb.n2 AS DOUBLE)) >= 0.9""".stripMargin) { (spark, dir) =>
      tfCosinePairs(spark, dir)
    },

    // D23: asymmetric shingle containment |A∩B|/|A| ≥ 0.9 — catches a small
    // doc embedded inside a larger one (quote inclusion, boilerplate
    // wrapping), which symmetric Jaccard misses when the size ratio is
    // large. Rides the SAME shinglePairStats stage as d4/d13 (zero new
    // shuffles beyond the shared pair graph); each unordered pair is tested
    // in both directions via a cheap projection union.
    QueryDef.sql(
      "d23_containment_pairs",
      s"""WITH $shingleGraphSql,
         |u AS (
         |  SELECT id_a AS contained_id, id_b AS container_id, inter, za.n AS nc
         |  FROM p JOIN z za ON id_a = za.doc_id
         |  UNION ALL
         |  SELECT id_b, id_a, inter, zb.n FROM p JOIN z zb ON id_b = zb.doc_id)
         |SELECT contained_id, container_id,
         |  round(CAST(inter AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS containment
         |FROM u WHERE CAST(inter AS DOUBLE) / CAST(nc AS DOUBLE) >= 0.9""".stripMargin) { (spark, dir) =>
      val st = shinglePairStats(spark, dir)
      val fwd = st.select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        col("inter"), col("na").as("nc"))
      val rev = st.select(col("id_b").as("contained_id"), col("id_a").as("container_id"),
        col("inter"), col("nb").as("nc"))
      val c = col("inter").cast("double") / col("nc").cast("double")
      fwd.union(rev)
        .filter(c >= 0.9)
        .select(col("contained_id"), col("container_id"), round(c, 6).as("containment"))
    },

    // D24: exact triangle participation over the ≥0.5-Jaccard near-dup
    // graph (graft.operators.Triangles) — distinguishes template FAMILIES
    // (triangle-rich mutual-similarity clusters) from hub-and-spoke quoting
    // (one doc similar to many that aren't similar to each other). The
    // looser 0.5 threshold densifies the graph enough for closure to exist.
    // The INPUT edges are id-canonical (id_a < id_b) on both sides; the
    // Spark operator then re-orients them by (degree, id) for O(m^1.5)
    // wedge work, while the oracle replays the id-canonical enumeration —
    // totals are orientation-invariant, so the two plans hash-match.
    QueryDef.sql(
      "d24_triangle_count",
      s"""WITH $shingleGraphSql,
         |pairs05 AS (SELECT id_a, id_b FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
         |            WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5),
         |tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
         |        FROM pairs05 e1
         |        JOIN pairs05 e2 ON e1.id_b = e2.id_a
         |        JOIN pairs05 e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         |nodes AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT v AS doc_id, COUNT(*) AS n_triangles FROM nodes GROUP BY 1""".stripMargin) { (spark, dir) =>
      graft.operators.Triangles.perNode(
        jaccardPairs(spark, dir, threshold = 0.5), "id_a", "id_b")
        .select(col("node").as("doc_id"), col("n_triangles"))
    },

    // D25: dedup ROI report — the full near-dup loop rolled up per
    // duplicate cluster: pairs → connected components → keeper election
    // (component minimum) → docs dropped and characters saved if only the
    // keeper is retained. The per-component frame is |components|-sized;
    // the only fact-scale work is the component join back to doc lengths
    // (key-partitioned equi-join). Singleton components report zero
    // savings and are filtered — the report lists actual clusters only.
    QueryDef.sql(
      "d25_dedup_savings",
      s"""WITH RECURSIVE
         |$shingleGraphSql,
         |$jaccardPairsSql,
         |e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM t
         |  UNION
         |  SELECT e2.dst, r.label FROM reach r JOIN e2 ON r.id = e2.src),
         |comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id)
         |SELECT c.component, COUNT(*) AS n_docs, COUNT(*) - 1 AS n_dropped,
         |  CAST(SUM(d.n_chars) - MIN(CASE WHEN c.doc_id = c.component THEN d.n_chars END) AS BIGINT) AS chars_saved
         |FROM comp c JOIN documents d ON c.doc_id = d.doc_id
         |GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val comp = graft.operators.ConnectedComponents.minLabel(
        docs.select(col("doc_id")), "doc_id",
        jaccardPairs(spark, dir), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("component"))
      comp.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy(col("component"))
        .agg(
          count(lit(1)).as("n_docs"),
          (count(lit(1)) - 1).as("n_dropped"),
          (sum(col("n_chars")) -
            min(when(col("doc_id") === col("component"), col("n_chars"))))
            .as("chars_saved"))
        .filter(col("n_docs") > 1)
    },

    // D26: cluster cohesion — per near-dup cluster, how tight the family
    // is: edge count, minimum and mean in-cluster Jaccard. Separates true
    // duplicate families (cohesion ≈ 1) from chained borderline matches
    // (min ≈ threshold), the triage signal before a keeper election
    // deletes data. Rides the SAME pair + component stages as d13/d25 —
    // zero new fact-scale work; the rollup is |clusters|-keyed. The mean
    // goes through an exact decimal sum of the 6-dp edge scores (float
    // sums are merge-order-dependent and could never hash-match).
    QueryDef.sql(
      "d26_cluster_cohesion",
      s"""WITH RECURSIVE
         |$shingleGraphSql,
         |pj AS (SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) AS jaccard
         |       FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
         |       WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.8),
         |e2 AS (SELECT id_a AS src, id_b AS dst FROM pj UNION ALL SELECT id_b, id_a FROM pj),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM t
         |  UNION
         |  SELECT e2.dst, r.label FROM reach r JOIN e2 ON r.id = e2.src),
         |comp AS (SELECT id AS doc_id, min(label) AS component FROM reach GROUP BY id),
         |cl AS (SELECT component, COUNT(*) AS n_docs FROM comp GROUP BY 1 HAVING COUNT(*) > 1),
         |ed AS (SELECT c.component, pj.jaccard FROM pj JOIN comp c ON pj.id_a = c.doc_id)
         |SELECT cl.component, cl.n_docs, COUNT(*) AS n_edges,
         |  MIN(ed.jaccard) AS min_jaccard,
         |  round(CAST(SUM(CAST(ed.jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_jaccard
         |FROM cl JOIN ed ON cl.component = ed.component
         |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      // cached: consumed by BOTH the component contraction and the ed
      // join-back — uncached, the shingle-pair stage ran twice (6.6 s →
      // the stage cost once; post-threshold pairs are output-proportional)
      val pairs = graft.engine.BoundedCaches.persist(jaccardPairs(spark, dir))
      val comp = graft.operators.ConnectedComponents.minLabel(
        docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("label").as("component"))
      val cl = comp.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
      val ed = pairs.join(
        comp.withColumnRenamed("doc_id", "id_a"), "id_a")
        .select(col("component"), col("jaccard"))
      cl.join(
        ed.groupBy(col("component")).agg(
          count(lit(1)).as("n_edges"),
          min(col("jaccard")).as("min_jaccard"),
          round(sum(col("jaccard").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double") / count(lit(1)), 6).as("avg_jaccard")),
        Seq("component"))
        .select(col("component"), col("n_docs"), col("n_edges"),
          col("min_jaccard"), col("avg_jaccard"))
    },

    // D28: duplication profile — near-dup pair counts per Jaccard tier
    // from 0.5 up: the one-page histogram that tells a curation team
    // whether the corpus problem is exact mirrors (tier 9-10) or template
    // sprawl (tier 5-6), and which dedup threshold buys what. Same
    // inverted-index pair stage as d4 at the looser 0.5 floor; the tier
    // rollup is a ≤6-key aggregate. floor(j*10) on the 6-dp-rounded double
    // is the same IEEE op in both engines.
    QueryDef.sql(
      "d28_dup_profile_tiers",
      s"""WITH $shingleGraphSql
         |SELECT CAST(floor(round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6) * 10) AS INT) AS tier,
         |  COUNT(*) AS n_pairs,
         |  MIN(round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6)) AS min_jaccard,
         |  MAX(round(CAST(inter AS DOUBLE) / (za.n + zb.n - inter), 6)) AS max_jaccard
         |FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5
         |GROUP BY 1""".stripMargin) { (spark, dir) =>
      jaccardPairs(spark, dir, threshold = 0.5)
        .groupBy(floor(col("jaccard") * 10).cast("int").as("tier"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("jaccard")).as("min_jaccard"),
          max(col("jaccard")).as("max_jaccard"))
    },

    // D29: incremental dedup — admit an incoming batch only where its
    // canonical fingerprint collides with neither the existing corpus nor
    // an earlier row of the same batch (min-doc_id wins within the batch).
    // This is the ingestion-time shape of d1: the corpus side reduces to
    // its DISTINCT fingerprint set before the anti-join, so the join
    // carries |unique fps|, not |corpus rows|; both steps are one shuffle
    // on the fingerprint key and the batch-internal first-wins rides the
    // same aggregate. Batch = odd doc_ids, corpus = even (deterministic
    // stand-ins for an ingest date split).
    QueryDef.sql(
      "d29_incremental_dedup",
      """WITH corpus AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |               FROM documents WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |          FROM documents WHERE doc_id % 2 = 1),
        |fresh AS (SELECT fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_in_batch
        |          FROM batch GROUP BY 1)
        |SELECT f.fp, f.keeper_id, f.n_in_batch
        |FROM fresh f ANTI JOIN corpus c ON f.fp = c.fp""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      val fp = TextAnalysis.fingerprintMd5(col("text"))
      val corpus = docs.filter(col("doc_id") % 2 === 0).select(fp.as("fp")).distinct()
      docs.filter(col("doc_id") % 2 === 1)
        .groupBy(fp.as("fp"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_in_batch"))
        .join(corpus, Seq("fp"), "left_anti")
    },

    // D30: near-dup graph degree distribution — the pre-flight profile for
    // every graph stage (d13 components, d21 PageRank, d24 triangles): how
    // many nodes carry each degree, i.e. where the wedge/propagation
    // fan-out will concentrate. Built on the SAME shared pair stage as
    // d4/d13/d21 (one inverted-index self-join); the degree rollup is two
    // keyed aggregates over the |pairs| stream — nothing rescans documents.
    QueryDef.sql(
      "d30_degree_distribution",
      s"""WITH $shingleGraphSql,
         |$jaccardPairsSql,
         |deg AS (SELECT id, COUNT(*) AS degree
         |        FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
         |        GROUP BY 1)
         |SELECT degree, COUNT(*) AS n_nodes, MIN(id) AS example_node
         |FROM deg GROUP BY 1""".stripMargin) { (spark, dir) =>
      val pairs = graft.engine.BoundedCaches.persist(jaccardPairs(spark, dir))
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("example_node"))
    },

    // D31: 2-core of the near-dup graph — operators/KCore bounded-round
    // peeling (4 rounds, fixpoint on this corpus pinned in KCoreSpec) over
    // the SAME 0.5-Jaccard pair stream as d24. Survivors are documents
    // entangled in duplication CLUSTERS rather than isolated pairs — the
    // cheap kernel extractor that prioritizes which docs the heavier
    // component/PageRank stages should chew on. The oracle unrolls the
    // same 4 peels as CTE rounds (the d21 doctrine: truncated iteration,
    // compared bit for bit — both engines compute the identical recursion).
    QueryDef.sql(
      "d31_kcore_members", {
        val prefix =
          s"""WITH $shingleGraphSql,
             |pairs05 AS (SELECT id_a, id_b FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
             |            WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5),
             |e0 AS (SELECT id_a AS a, id_b AS b FROM pairs05 UNION ALL SELECT id_b, id_a FROM pairs05)""".stripMargin
        val rounds = (1 to 4).map { i =>
          s"""g$i AS (SELECT a, COUNT(*) AS deg FROM e${i - 1} GROUP BY 1),
             |s$i AS (SELECT a FROM g$i WHERE deg >= 2),
             |e$i AS (SELECT e.a, e.b FROM e${i - 1} e JOIN s$i x ON e.a = x.a JOIN s$i y ON e.b = y.a)""".stripMargin
        }.mkString(",\n")
        s"$prefix,\n$rounds\nSELECT a AS doc_id, CAST(deg AS BIGINT) AS core_deg FROM g4 WHERE deg >= 2"
      }) { (spark, dir) =>
      graft.operators.KCore.peel(
        jaccardPairs(spark, dir, threshold = 0.5)
          .select(col("id_a").as("src"), col("id_b").as("dst")),
        k = 2, rounds = 4)
        .select(col("id").as("doc_id"), col("core_deg"))
    },

    // D37: edit-distance near-dup (typo-level title dedup) — the fuzzy
    // flavor the shingle family can't see: one character edit changes at
    // most one shingle's worth of Jaccard but IS the whole signal for
    // short titles/names. levenshtein is built into BOTH engines with the
    // identical textbook definition, so this oracles exactly. Candidate
    // generation is PREFIX BLOCKING (docs sharing the title's first 10
    // chars), one equi-join on the block key — never all-pairs; the O(m·n)
    // verify runs only inside blocks. Skew guard mirrors the shingle
    // maxDf pattern: `editNearDupPairs`' `maxBlock` drops blocks larger
    // than the cap — a boilerplate title prefix shared by f docs would
    // otherwise put f²/2 verifies on one key. d37 runs uncapped (0, the
    // oracle's semantics); DedupSpec pins the capped path.
    QueryDef.sql(
      "d37_edit_near_dup",
      """WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 40) AS title FROM documents),
        |b AS (SELECT doc_id, title, substr(title, 1, 10) AS blk FROM t)
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b2.title) AS INT) AS dist
        |FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id
        |WHERE levenshtein(a.title, b2.title) <= 8""".stripMargin) { (spark, dir) =>
      editNearDupPairs(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), substring(lower(trim(col("text"))), 1, 40).as("title")),
        maxDist = 8, maxBlock = 0L)
    },

    // D44: label-propagation communities over the 0.5-Jaccard near-dup
    // graph — the density-based complement to d13's connected components
    // (CC merges ANY connectivity into one component; LPA lets
    // weakly-bridged dense regions keep distinct communities, the shape
    // that matters when boilerplate bridges unrelated dup clusters).
    // Deterministic variant: most-frequent neighbor label, ties to the
    // SMALLEST label, 3 synchronous rounds, labels seeded with doc_id.
    // The oracle unrolls the identical rounds as CTEs (the d21/d31
    // truncated-iteration doctrine) — both engines compute the exact same
    // recursion, hashed bit for bit.
    QueryDef.sql(
      "d44_label_propagation", {
        val prefix =
          s"""WITH $shingleGraphSql,
             |pairs05 AS (SELECT id_a, id_b FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
             |            WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5),
             |e0 AS (SELECT id_a AS a, id_b AS b FROM pairs05 UNION ALL SELECT id_b, id_a FROM pairs05),
             |lab0 AS (SELECT doc_id AS v, doc_id AS label FROM documents)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""cnt$i AS (SELECT e.b AS v, l.label, COUNT(*) AS c
             |         FROM e0 e JOIN lab${i - 1} l ON l.v = e.a GROUP BY 1, 2),
             |best$i AS (SELECT v, label FROM (
             |           SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
             |           FROM cnt$i) WHERE rn = 1),
             |lab$i AS (SELECT l.v, COALESCE(b.label, l.label) AS label
             |         FROM lab${i - 1} l LEFT JOIN best$i b ON b.v = l.v)""".stripMargin
        }.mkString(",\n")
        s"$prefix,\n$rounds\nSELECT v AS doc_id, label AS community FROM lab3"
      }) { (spark, dir) =>
      graft.operators.LabelPropagation.run(
        Tables.load(spark, dir, "documents").select(col("doc_id").as("v")),
        jaccardPairs(spark, dir, threshold = 0.5)
          .select(col("id_a").as("src"), col("id_b").as("dst")),
        rounds = 3)
        .select(col("v").as("doc_id"), col("label").as("community"))
    },

    // D45: community QUALITY metrics over the d44 labeling — modularity
    // terms and conductance per community, all in EXACT INTEGER algebra
    // so the hashes cross engines: with m undirected edges, community
    // internal-edge count e_c and degree sum d_c, the modularity term is
    // (4·m·e_c − d_c²)/(4·m²) and conductance is cut_c/min(d_c, 2m−d_c)
    // — each a SINGLE division of exact integers (the t41 kappa rule),
    // plus the raw integers themselves so the gate hashes the algebra's
    // inputs, not just its quotients. This is the measurement that
    // justifies LPA next to CC: communities with high modularity / low
    // conductance are the dense dup regions CC would have merged across
    // boilerplate bridges.
    QueryDef.sql(
      "d45_community_modularity", {
        val prefix =
          s"""WITH $shingleGraphSql,
             |pairs05 AS (SELECT id_a, id_b FROM p JOIN z za ON id_a = za.doc_id JOIN z zb ON id_b = zb.doc_id
             |            WHERE CAST(inter AS DOUBLE) / (za.n + zb.n - inter) >= 0.5),
             |e0 AS (SELECT id_a AS a, id_b AS b FROM pairs05 UNION ALL SELECT id_b, id_a FROM pairs05),
             |lab0 AS (SELECT doc_id AS v, doc_id AS label FROM documents)""".stripMargin
        val rounds = (1 to 3).map { i =>
          s"""cnt$i AS (SELECT e.b AS v, l.label, COUNT(*) AS c
             |         FROM e0 e JOIN lab${i - 1} l ON l.v = e.a GROUP BY 1, 2),
             |best$i AS (SELECT v, label FROM (
             |           SELECT v, label, row_number() OVER (PARTITION BY v ORDER BY c DESC, label) AS rn
             |           FROM cnt$i) WHERE rn = 1),
             |lab$i AS (SELECT l.v, COALESCE(b.label, l.label) AS label
             |         FROM lab${i - 1} l LEFT JOIN best$i b ON b.v = l.v)""".stripMargin
        }.mkString(",\n")
        s"""$prefix,
           |$rounds,
           |mm AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS m FROM e0),
           |le AS (SELECT la.label AS ca, lb.label AS cb
           |       FROM e0 e JOIN lab3 la ON la.v = e.a JOIN lab3 lb ON lb.v = e.b),
           |cs AS (SELECT ca AS community,
           |         CAST(SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) / 2 AS BIGINT) AS internal_edges,
           |         CAST(SUM(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT) AS cut_edges,
           |         CAST(COUNT(*) AS BIGINT) AS degree_sum
           |       FROM le GROUP BY 1),
           |nm AS (SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
           |       FROM lab3 GROUP BY 1)
           |SELECT nm.community, nm.n_members,
           |  COALESCE(cs.internal_edges, 0) AS internal_edges,
           |  COALESCE(cs.cut_edges, 0) AS cut_edges,
           |  COALESCE(cs.degree_sum, 0) AS degree_sum,
           |  CASE WHEN m > 0 THEN round(
           |    CAST(4 * m * COALESCE(cs.internal_edges, 0)
           |         - COALESCE(cs.degree_sum, 0) * COALESCE(cs.degree_sum, 0) AS DOUBLE)
           |    / (4 * m * m), 6) END AS modularity_term,
           |  CASE WHEN COALESCE(cs.degree_sum, 0) > 0
           |            AND least(cs.degree_sum, 2 * m - cs.degree_sum) > 0
           |       THEN round(CAST(cs.cut_edges AS DOUBLE)
           |                  / least(cs.degree_sum, 2 * m - cs.degree_sum), 6) END AS conductance
           |FROM nm LEFT JOIN cs ON nm.community = cs.community CROSS JOIN mm
           |WHERE nm.n_members > 1 OR cs.degree_sum IS NOT NULL""".stripMargin
      }) { (spark, dir) =>
      val pairs = graft.engine.BoundedCaches.persist(
        jaccardPairs(spark, dir, threshold = 0.5)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      val lab = graft.operators.LabelPropagation.run(
        Tables.load(spark, dir, "documents").select(col("doc_id").as("v")),
        pairs, rounds = 3)
      val e0 = pairs.select(col("src").as("a"), col("dst").as("b"))
        .unionAll(pairs.select(col("dst").as("a"), col("src").as("b")))
      val m = e0.count() / 2
      val le = e0
        .join(lab.select(col("v").as("va"), col("label").as("ca")), col("a") === col("va"))
        .join(lab.select(col("v").as("vb"), col("label").as("cb")), col("b") === col("vb"))
        .select(col("ca"), col("cb"))
      val cs = le.groupBy(col("ca").as("community"))
        .agg(
          (sum(when(col("ca") === col("cb"), 1L).otherwise(0L)) / 2).cast("long").as("internal_edges"),
          sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L)).as("cut_edges"),
          count(lit(1)).as("degree_sum"))
      val nm = lab.groupBy(col("label").as("community")).agg(count(lit(1)).as("n_members"))
      val dsum = coalesce(col("degree_sum"), lit(0L))
      val ie = coalesce(col("internal_edges"), lit(0L))
      val cut = coalesce(col("cut_edges"), lit(0L))
      val minSide = least(col("degree_sum"), lit(2L * m) - col("degree_sum"))
      nm.join(cs, Seq("community"), "left")
        .filter(col("n_members") > 1 || col("degree_sum").isNotNull)
        .select(col("community"), col("n_members"),
          ie.as("internal_edges"), cut.as("cut_edges"), dsum.as("degree_sum"),
          (if (m > 0)
            round((lit(4L * m) * ie - dsum * dsum).cast("double") / (4L * m * m), 6)
          else lit(null).cast("double")).as("modularity_term"),
          when(col("degree_sum") > 0 && minSide > 0,
            round(cut.cast("double") / minSide, 6)).as("conductance"))
    },

    // D41: the HASHED half of d2 (the q7/a31 bound-audit pattern) — the
    // MinHash recall THEOREM oracled: identical content hashes to an
    // identical shingle set, hence an identical 64-perm signature, hence
    // every band collides — an exact duplicate can NEVER be missed by the
    // LSH route. The corpus can't supply exact dups (all 500 sf0.01 docs
    // are distinct), so the pair fixture is constructed in-query from
    // doc_id < 100 copies — SQL-expressible, so the pair list itself
    // hashes against the oracle and the two theorem booleans hash as TRUE
    // literals. This pins the seeded hash family's determinism ACROSS
    // ROWS (same text → same signature regardless of which task computes
    // it), which the rows-only d2 gate could only count.
    QueryDef.sql(
      "d41_minhash_exactdup_audit",
      """SELECT doc_id AS id_a, doc_id + 10000 AS id_b,
        |  TRUE AS sig_equal, TRUE AS all_bands_collide
        |FROM documents WHERE doc_id < 100""".stripMargin) { (spark, dir) =>
      val base = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val union = base.unionAll(
        base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val sigs = union.select(
        col("doc_id"),
        MinHashLSH.minhashes(
          array_distinct(HashedWordShingles(col("text"), 3)), k = 64).as("sig"))
      val withBands = sigs.withColumn(
        "bands", MinHashLSH.bandSignatures(col("sig"), bands = 16, rowsPerBand = 4))
      withBands.select(col("doc_id").as("id_a"), col("sig").as("sa"), col("bands").as("ba"))
        .join(withBands.select((col("doc_id") - 10000).as("id_a"),
          col("sig").as("sb"), col("bands").as("bb"), col("doc_id").as("id_b")),
          Seq("id_a"))
        .select(col("id_a"), col("id_b"),
          (col("sa") === col("sb")).as("sig_equal"),
          (col("ba") === col("bb")).as("all_bands_collide"))
    },

    // D42: the SimHash twin of d41 — identical text folds to an identical
    // 64-bit simhash, so the exact-dup pair's Hamming distance is
    // provably 0 and the banded route can never miss it. The Hamming
    // value itself hashes (as the integer 0), not just a boolean, so a
    // drifting signature implementation fails the gate on a value, not a
    // flag.
    QueryDef.sql(
      "d42_simhash_exactdup_audit",
      """SELECT doc_id AS id_a, doc_id + 10000 AS id_b,
        |  TRUE AS sig_equal, CAST(0 AS INT) AS hamming
        |FROM documents WHERE doc_id < 100""".stripMargin) { (spark, dir) =>
      val base = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      val union = base.unionAll(
        base.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      val sigs = union.select(
        col("doc_id"),
        SimHash.simhash64(
          transform(TextTokens.tokens(col("text")), t => xxhash64(t))).as("sim"))
      sigs.select(col("doc_id").as("id_a"), col("sim").as("sa"))
        .join(sigs.select((col("doc_id") - 10000).as("id_a"),
          col("sim").as("sb"), col("doc_id").as("id_b")), Seq("id_a"))
        .select(col("id_a"), col("id_b"),
          (col("sa") === col("sb")).as("sig_equal"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("hamming"))
    },

    // D65: benchmark DECONTAMINATION (functions/Decontaminate) — the
    // GPT-3 appendix-C / FineWeb 13-gram method: a training doc sharing
    // any word 13-gram with a held-out eval corpus is a leak suspect.
    // Here eval = the doc_id % 10 = 7 slice (the planted near-dup twins
    // straddle the split, so contamination genuinely exists); the train
    // stream probes the eval shingle VOCABULARY with one left-semi join
    // (linear, never all-pairs). maxDf = 1 forces the skew cap (the d34
    // pattern: shingles above the train document-frequency cap leave the
    // universe, and BOTH counts see only survivors) so the capped path
    // is pinned at every SF, not just where stop-shingles happen to
    // exist. Every train doc keeps a row — sub-13-token docs as
    // (0, 0, false), the t48 short-doc contract.
    QueryDef.sql(
      "d65_eval_contamination",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(ts) >= 13
        |        THEN list_distinct(list_transform(range(len(ts)-12), i -> list_aggregate(ts[i+1:i+13], 'string_agg', ' ')))
        |        ELSE [] END AS sh FROM t),
        |e0 AS (SELECT doc_id, unnest(sh) AS g FROM s WHERE doc_id % 10 <> 7),
        |keep AS (SELECT g FROM e0 GROUP BY g HAVING COUNT(*) <= 1),
        |e AS (SELECT e0.doc_id, e0.g FROM e0 JOIN keep USING (g)),
        |ev AS (SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM s WHERE doc_id % 10 = 7)),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM e GROUP BY 1),
        |hit AS (SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap FROM e JOIN ev USING (g) GROUP BY 1)
        |SELECT t.doc_id, COALESCE(sz.n_shingles, 0) AS n_shingles,
        |       COALESCE(hit.n_overlap, 0) AS n_overlap,
        |       COALESCE(hit.n_overlap, 0) >= 1 AS contaminated
        |FROM t LEFT JOIN sz USING (doc_id) LEFT JOIN hit USING (doc_id)
        |WHERE t.doc_id % 10 <> 7""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.Decontaminate.flagOverlap(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 13, minOverlap = 1L, maxDf = 1L)
    },

    // D66: SCC CONDENSATION + topological LEVELS (Scc.condensation /
    // Scc.topologicalLevels) — the payoff step after d54: collapse each
    // SCC to one node and the result is a DAG whose longest-path levels
    // are the scheduling tiers (crawl waves, migration batches — every
    // "what can run in parallel after what" read). The handoff graph's
    // condensation is shallow (giant core + singletons), so the gate
    // synthesizes a deterministic RICHER DAG-of-SCCs on the customer keys
    // (the h1/h2 no-new-testdata trick): 3-cycles per key block (the
    // SCCs) + two closed-form edge families toward strictly lower blocks
    // ((b−1) div 8 and (b−1) div 27 — two parents per block, so longest
    // path ≠ tree depth), max level 5 at sf0.1 (the fan-ins keep the
    // level count — and so the relaxation round count — shallow while
    // staying a genuine multi-parent DAG). Spark runs the REAL
    // operators end to end (trim+color+sweep labels → condensation →
    // iterative max-relaxation levels, one edge join + map-side max per
    // round, converged by the exact level-sum test); the oracle is the
    // DEFINITIONAL pair — quadratic reach×transpose closure for labels,
    // recursive-CTE longest path for levels — exactly the formulations
    // the operators exist to avoid at scale.
    QueryDef.sql(
      "d66_scc_condensation",
      """WITH k AS (SELECT CAST(c_custkey - 1 AS BIGINT) AS v FROM customer),
        |cyc0 AS (SELECT v AS src, (v - v % 3) + ((v % 3 + 1) % 3) AS dst FROM k),
        |cyc AS (SELECT c.src, c.dst FROM cyc0 c JOIN k ON k.v = c.dst),
        |reps AS (SELECT v AS src, v // 3 AS b FROM k WHERE v % 3 = 0 AND v >= 3),
        |dag AS (SELECT src, 3 * ((b - 1) // 8) AS dst FROM reps
        |        UNION ALL SELECT src, 3 * ((b - 1) // 27) FROM reps),
        |edges AS (SELECT DISTINCT src, dst FROM (SELECT * FROM cyc UNION ALL SELECT * FROM dag) WHERE src <> dst),
        |reach AS (
        |  WITH RECURSIVE r(a, b) AS (
        |    SELECT src, dst FROM edges
        |    UNION
        |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src
        |  ) SELECT * FROM r),
        |mutual AS (SELECT r1.a AS v, r1.b AS u FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a),
        |lab AS (SELECT k.v, least(k.v, coalesce(min(m.u), k.v)) AS scc
        |        FROM k LEFT JOIN mutual m ON m.v = k.v GROUP BY k.v),
        |cond AS (SELECT DISTINCT ls.scc AS src, ld.scc AS dst
        |         FROM edges e JOIN lab ls ON ls.v = e.src JOIN lab ld ON ld.v = e.dst
        |         WHERE ls.scc <> ld.scc),
        |lp AS (
        |  WITH RECURSIVE p(c, d) AS (
        |    SELECT DISTINCT scc, 0 FROM lab
        |    UNION
        |    SELECT cond.dst, p.d + 1 FROM p JOIN cond ON cond.src = p.c
        |  ) SELECT c, MAX(d) AS level FROM p GROUP BY c)
        |SELECT l.scc, CAST(COUNT(*) AS BIGINT) AS n_members,
        |       CAST(COALESCE(MIN(lv.level), 0) AS BIGINT) AS level
        |FROM lab l LEFT JOIN lp lv ON lv.c = l.scc
        |GROUP BY l.scc""".stripMargin) { (spark, dir) =>
      val k = Tables.load(spark, dir, "customer")
        .select((col("c_custkey") - 1).cast("long").as("v"))
      val cyc = k
        .select(col("v").as("src"),
          (col("v") - pmod(col("v"), lit(3L)) +
            pmod(pmod(col("v"), lit(3L)) + 1L, lit(3L))).as("dst"))
        .join(k.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      val reps = k.filter(pmod(col("v"), lit(3L)) === 0L && col("v") >= 3L)
        .select(col("v").as("src"), expr("v div 3").as("b"))
      val dag = reps.select(col("src"), expr("3 * ((b - 1) div 8)").as("dst"))
        .unionAll(reps.select(col("src"), expr("3 * ((b - 1) div 27)").as("dst")))
      // three consumers (components pins a derivative, condensation joins
      // twice) — bounded-registry persist so the construction runs once
      val edges = graft.engine.BoundedCaches.persist(
        cyc.unionAll(dag).filter(col("src") =!= col("dst")).distinct())
      val labels = graft.operators.Scc.components(
        k.select(col("v").as("id")), "id", edges, "src", "dst")
      val cond = graft.operators.Scc.condensation(
        labels, "id", "scc", edges, "src", "dst")
      val levels = graft.operators.Scc.topologicalLevels(cond, "src", "dst")
      labels.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
        .join(levels.withColumnRenamed("id", "scc"), Seq("scc"), "left")
        .select(col("scc"), col("n_members"),
          coalesce(col("level"), lit(0L)).as("level"))
    },

    // D67: NEGATIVE SAMPLING (operators/NegativeSampling) — the word2vec
    // unigram^(3/4) table draw that finishes the embedding-prep chain
    // (walks → skip-gram pairs → training triples). Weights are
    // floor(sqrt(sqrt(cnt³))·1e6) — cnt^(3/4) as two correctly-rounded
    // sqrts (the oracle-safe-math rule: pow diverges across engines,
    // composed sqrt does not); each item's slot range on the 4096-slot
    // unigram table is closed-form ceil-division over the id-ordered
    // cumulative weight line (the quantization PARTITIONS [0, T) exactly
    // — no range join anywhere), and each draw's slot is the replayable
    // (center, context, draw) mix mod T. Spark runs the cumulative
    // through PrefixSum (bucketed, no SinglePartition window); the
    // oracle is the same line as ONE SQL window + unnest(range()). The
    // gate corpus is the handoff edge list as (center=src, context=dst)
    // pairs with context-unigram counts — the d62 skip-gram output plugs
    // into the same operator unchanged.
    QueryDef.sql(
      "d67_negative_samples",
      s"""WITH $handoffGraphSql,
        |cnts AS (SELECT dst AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM edges GROUP BY 1),
        |wts AS (SELECT v, CAST(floor(sqrt(sqrt(CAST(cnt*cnt*cnt AS DOUBLE))) * 1000000) AS BIGINT) AS w FROM cnts),
        |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wts),
        |cum AS (SELECT v, w, CAST(COALESCE(SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c FROM wts),
        |tbl AS (SELECT v AS negative, unnest(range((c * 4096 + tw - 1) // tw, ((c + w) * 4096 + tw - 1) // tw)) AS slot
        |        FROM cum CROSS JOIN tot),
        |draws AS (SELECT e.src AS center, e.dst AS context, i.i AS draw_idx,
        |            ((e.src % 1000003) * 2654435761 + (e.dst % 1000003) * 97003 + i.i * 65599) % 1000000007 % 4096 AS slot
        |          FROM edges e, LATERAL (SELECT unnest(range(2)) AS i) i)
        |SELECT d.center, d.context, CAST(d.draw_idx AS BIGINT) AS draw_idx, t.negative
        |FROM draws d JOIN tbl t USING (slot)""".stripMargin) { (spark, dir) =>
      val edges = handoffEdges(spark, dir)
      graft.operators.NegativeSampling.negativeSamples(
        edges.select(col("src").as("center"), col("dst").as("context")),
        "center", "context",
        edges.groupBy(col("dst").as("v")).agg(count(lit(1)).as("cnt")),
        "v", "cnt", k = 2, tableSize = 4096L)
    },

    // D68: decontamination by EXCISION (Decontaminate.exciseOverlap) —
    // d65 flags; this CUTS: exactly the token spans covered by
    // eval-colliding 13-grams leave the document and the rest reassembles
    // into one cleaned text (the published span-removal variant of the
    // GPT-3 method — the softer remedy when dropping whole documents
    // would waste the clean 95%). Same eval-vocabulary semi-join as d65,
    // plus a bounded n-per-hit position expansion, a position anti-join
    // on the token stream, and ONE per-doc reassembly groupBy. The WHOLE
    // cleaned text hashes (not just the counts), so a one-token boundary
    // error anywhere fails the gate on a value.
    QueryDef.sql(
      "d68_contamination_excision",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(ts) >= 13
        |        THEN list_transform(range(len(ts)-12), i -> list_aggregate(ts[i+1:i+13], 'string_agg', ' '))
        |        ELSE [] END AS sh FROM t),
        |ev AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(sh)) AS g FROM s WHERE doc_id % 10 = 7)),
        |tg AS (SELECT doc_id, i.i - 1 AS pos, sh[i.i] AS g FROM s, LATERAL (SELECT unnest(range(1, len(sh)+1)) AS i) i
        |       WHERE doc_id % 10 <> 7),
        |hit AS (SELECT tg.doc_id, tg.pos FROM tg JOIN ev USING (g)),
        |cut AS (SELECT DISTINCT doc_id, pos + d.d AS p FROM hit, LATERAL (SELECT unnest(range(13)) AS d) d),
        |tok AS (SELECT t.doc_id, i.i - 1 AS pos, ts[i.i] AS tk FROM t, LATERAL (SELECT unnest(range(1, len(ts)+1)) AS i) i
        |        WHERE doc_id % 10 <> 7),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok LEFT JOIN cut ON cut.doc_id = tok.doc_id AND cut.p = tok.pos
        |         WHERE cut.p IS NULL),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, string_agg(tk, ' ' ORDER BY pos) AS clean FROM kept GROUP BY 1),
        |ntk AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n FROM t WHERE doc_id % 10 <> 7)
        |SELECT ntk.doc_id, ntk.n AS n_tokens, ntk.n - COALESCE(agg.n_kept, 0) AS n_cut,
        |       COALESCE(agg.clean, '') AS clean_text
        |FROM ntk LEFT JOIN agg USING (doc_id)""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.Decontaminate.exciseOverlap(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 13)
    },

    // D69: excision into PIECES (Decontaminate.excisePieces) — d68's
    // faithful sibling: the published method SPLITS the document at the
    // cut instead of joining across it, because a joined text can create
    // a NEW n-gram spanning the seam (token 4 abutting token 18) that
    // nothing guarantees misses the eval set. A piece is a maximal run
    // of kept positions, so every piece n-gram existed at uncut original
    // positions — re-flagging the pieces finds ZERO overlap BY
    // CONSTRUCTION (the law DecontaminateSpec pins). Gate hashes the
    // full piece inventory: ids, order, spans, and texts.
    QueryDef.sql(
      "d69_excision_pieces",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
        |s AS (SELECT doc_id, CASE WHEN len(ts) >= 13
        |        THEN list_transform(range(len(ts)-12), i -> list_aggregate(ts[i+1:i+13], 'string_agg', ' '))
        |        ELSE [] END AS sh FROM t),
        |ev AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(sh)) AS g FROM s WHERE doc_id % 10 = 7)),
        |tg AS (SELECT doc_id, i.i - 1 AS pos, sh[i.i] AS g FROM s, LATERAL (SELECT unnest(range(1, len(sh)+1)) AS i) i
        |       WHERE doc_id % 10 <> 7),
        |hit AS (SELECT tg.doc_id, tg.pos FROM tg JOIN ev USING (g)),
        |cut AS (SELECT DISTINCT doc_id, pos + d.d AS p FROM hit, LATERAL (SELECT unnest(range(13)) AS d) d),
        |tok AS (SELECT t.doc_id, i.i - 1 AS pos, ts[i.i] AS tk FROM t, LATERAL (SELECT unnest(range(1, len(ts)+1)) AS i) i
        |        WHERE doc_id % 10 <> 7),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tk FROM tok LEFT JOIN cut ON cut.doc_id = tok.doc_id AND cut.p = tok.pos
        |         WHERE cut.p IS NULL),
        |isl AS (SELECT doc_id, pos, tk,
        |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM kept),
        |p AS (SELECT doc_id, grp, CAST(MIN(pos) AS BIGINT) AS piece_start,
        |        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |        string_agg(tk, ' ' ORDER BY pos) AS piece_text
        |      FROM isl GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY piece_start) - 1 AS INT) AS piece_idx,
        |  piece_start, n_tokens, piece_text
        |FROM p""".stripMargin) { (spark, dir) =>
      val docs = Tables.load(spark, dir, "documents")
      graft.functions.Decontaminate.excisePieces(
        docs.filter(col("doc_id") % 10 =!= 7),
        docs.filter(col("doc_id") % 10 === 7),
        "doc_id", "text", n = 13)
    })

  /** The d9 clean-corpus CTE chain (through dedup rank `rn`), shared with
    * the composed packing query t39. Survivor = English, 10..100k tokens,
    * stopword ratio ≥ 1%, first doc per canonical-whitespace md5. */
  private[graft] lazy val cleanCorpusSql: String =
    """t AS (SELECT doc_id, text, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
      |c AS (SELECT doc_id, text, ts,
      |  len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS en,
      |  len(list_filter(ts, x -> x IN ('el','la','de','y','es'))) AS es,
      |  len(list_filter(ts, x -> x IN ('der','die','das','und','ist'))) AS de,
      |  len(list_filter(ts, x -> x IN ('le','la','de','et','est'))) AS fr
      |  FROM t),
      |q AS (SELECT doc_id, text,
      |  CAST(len(ts) AS INT) AS n_tokens,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM c
      |  WHERE (CASE WHEN en + es + de + fr = 0 THEN 'und'
      |              WHEN fr > en AND fr > es AND fr > de THEN 'fr'
      |              WHEN de > en AND de > es THEN 'de'
      |              WHEN es > en THEN 'es'
      |              ELSE 'en' END) = 'en'
      |    AND (len(ts) BETWEEN 10 AND 100000)
      |    AND round(CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS DOUBLE) / len(ts), 6) >= 0.01),
      |f AS (SELECT doc_id, fp, n_tokens,
      |        row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM q)""".stripMargin

  /** D9 body: the composed language→quality→dedup training-corpus clean,
    * as one declarative plan (gates are scan-level filters; the only
    * shuffle is the dedup window on the 16-byte fingerprint). Shared with
    * t39's packing composition. */
  private[graft] def cleanCorpus(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val enStop = TextAnalysis.enStopwords
    // Shared-token projection (the t2 pattern): the gate references the
    // token array 4+ times, so CollapseProject keeps __toks a real column
    // and the regexp tokenization runs once per row.
    val quality = TextAnalysis
      .qualityColumnsFromTokens(col("text"), col("__toks"), enStop).toMap
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        graft.functions.TextTokens.tokens(col("text")).as("__toks"))
      .filter(TextAnalysis.languageIdFromTokens(col("__toks")) === "en" &&
        quality("quality_ok"))
      .select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"),
        quality("n_tokens").as("n_tokens"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** D37 body on any (doc_id, title) frame: prefix-blocked candidate
    * generation + in-block levenshtein verify, with the optional
    * block-size skew cap (`maxBlock` ≤ 0 = off). Shared with DedupSpec's
    * planted-boilerplate pin. */
  private[graft] def editNearDupPairs(
      titled: org.apache.spark.sql.DataFrame,
      maxDist: Int, maxBlock: Long): org.apache.spark.sql.DataFrame = {
    val b = titled.withColumn("blk", substring(col("title"), 1, 10))
    val blocked =
      if (maxBlock <= 0L) b
      else b.join(
        b.groupBy(col("blk")).agg(count(lit(1)).as("__bs"))
          .filter(col("__bs") <= maxBlock).select(col("blk")),
        Seq("blk"), "left_semi")
    blocked.select(col("doc_id").as("id_a"), col("title").as("ta"), col("blk"))
      .join(blocked.select(col("doc_id").as("id_b"), col("title").as("tb"), col("blk")),
        Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("ta"), col("tb")).as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
