package graft

import graft.functions.TextTokens
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic pins for the round-3 training-pipeline operators (t7-t10, d10)
  * beyond the DuckDB hash gate: redaction really removes the PII patterns,
  * packing respects its budget invariant, contamination flags exactly the
  * planted positives. */
class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sfDir

  test("t7: scrubbed text contains no email/phone pattern; counts are positive") {
    val out = SparkEntry.queries("t7_pii_scrub")(spark, dir)
    val leaked = out.filter(
      col("scrubbed").rlike("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}") ||
        col("scrubbed").rlike("\\d{3}-\\d{2,4}")).count()
    assert(leaked == 0, "no PII pattern may survive scrubbing")
    assert(out.filter(col("n_emails") >= 1 && col("n_phones") >= 1).count() == out.count(),
      "every row had the planted email and phone counted")
  }

  test("t8: a fully-repeated doc scores ~1-1/n, an all-distinct doc scores 0") {
    val docs = Seq((1L, "alpha beta gamma alpha beta gamma alpha beta gamma"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val sh = TextTokens.wordShinglesAll(col("text"), 3)
    val out = docs.select(
        col("doc_id"),
        (lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh)).as("f"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) == 0.0, "distinct doc has zero repetition")
    // 7 shingles, 3 distinct ("alpha beta gamma","beta gamma alpha","gamma alpha beta")
    assert(math.abs(out(1L) - (1.0 - 3.0 / 7.0)) < 1e-9)
  }

  test("t10: packing fills bins in order; a bin never starts past the budget boundary") {
    val out = SparkEntry.queries("t10_sequence_pack")(spark, dir)
      .select("source", "doc_id", "n_tokens", "cum_before", "bin_id").collect()
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // cum_before is the exclusive running sum in doc_id order
      var acc = 0L
      sorted.foreach { r =>
        assert(r.getLong(3) == acc, "cum_before must be the exclusive prefix sum")
        assert(r.getInt(4) == (acc / 512L).toInt, "bin = floor(prefix/budget)")
        acc += r.getInt(2)
      }
    }
  }

  test("Int128Sum: matches sum(decimal) exactly, survives >64-bit totals, null groups") {
    import graft.functions.expr.Int128Sum.{sumScaled, unscaled2}
    import org.apache.spark.sql.types.DecimalType
    // totals past Long.MaxValue unscaled units: 20 × 9.2e17 cents
    // = 1.84e19 > 2^63, so the low word overflows and eval must take the
    // BigInteger hi/lo reconstruction branch (10 rows would stop at
    // 9.2e18, just UNDER Long.MaxValue, and never exercise the carry).
    val big = Seq.fill(20)(9.2e15).map(v => ("g", v)).toDF("g", "v").repartition(4)
    val viaInt128 = big.groupBy("g").agg(sumScaled(unscaled2(col("v")), 2).as("s"))
      .head().getDecimal(1)
    val viaDecimal = big.groupBy("g")
      .agg(sum(col("v").cast(DecimalType(18, 2))).as("s")).head().getDecimal(1)
    assert(viaInt128.compareTo(viaDecimal) == 0,
      s"128-bit sum must equal decimal sum past long range: $viaInt128 vs $viaDecimal")
    // empty-group semantics: all-null input sums to NULL, like sum()
    val nulls = Seq(("g", None: Option[Double]), ("g", None)).toDF("g", "v")
    val r = nulls.groupBy("g").agg(sumScaled(unscaled2(col("v")), 2).as("s")).head()
    assert(r.isNullAt(1), "all-null group must sum to NULL exactly like sum()")
    // mixed-sign randomized values against the decimal formulation
    val rnd = new scala.util.Random(42)
    val mixed = Seq.fill(500)(("g", (rnd.nextDouble() - 0.5) * 2e6))
      .toDF("g", "v").repartition(8)
    val mi = mixed.groupBy("g").agg(sumScaled(unscaled2(col("v")), 2).as("s"))
      .head().getDecimal(1)
    val md = mixed.groupBy("g")
      .agg(sum(col("v").cast(DecimalType(18, 2))).as("s")).head().getDecimal(1)
    assert(mi.compareTo(md) == 0, s"mixed-sign 128-bit sum mismatch: $mi vs $md")
  }

  test("t12: chunks cover every token; consecutive chunks overlap by W-S") {
    val out = SparkEntry.queries("t12_chunk_windows")(spark, dir)
      .collect().groupBy(_.getLong(0))
    val docs = graft.io.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, chunks) =>
      val n = docs(id)
      val sorted = chunks.sortBy(_.getInt(1))
      // coverage: last chunk must reach token n; starts advance by stride 24
      val lastStart = (sorted.length - 1) * 24
      assert(lastStart + sorted.last.getInt(3) == n,
        s"doc $id: chunks must cover all $n tokens")
      sorted.init.foreach(c => assert(c.getInt(3) == 32,
        s"doc $id: every non-final chunk is a full window"))
    }
  }

  test("connected components: chains collapse to min label; singletons keep their own") {
    import graft.operators.ConnectedComponents
    // a 5-chain (1-2-3-4-5), a 2-cycle (10,11), and singleton 20
    val verts = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (10L, 11L), (11L, 10L))
      .toDF("a", "b")
    val labels = ConnectedComponents.minLabel(verts, "id", edges, "a", "b")
    try {
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
      // the serial union-find endgame and the forced all-distributed
      // label-propagation path must agree bit-for-bit
      val dist = ConnectedComponents.minLabel(
        verts, "id", edges, "a", "b", localFinishMaxRows = 0L)
      val gotDist = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == got, "endgame vs distributed parity")
    } finally spark.catalog.clearCache()
  }

  test("d10: planted n-gram flags positive, absent n-gram stays negative") {
    val out = SparkEntry.queries("d10_contamination")(spark, dir)
    val n = out.count()
    val pos = out.filter(col("contaminated")).count()
    assert(pos > 0 && pos < n,
      s"blocklist must split the corpus (got $pos/$n contaminated)")
    // cross-check one positive against a direct substring probe
    val direct = graft.io.Tables.load(spark, dir, "documents")
      .filter(lower(col("text")).rlike("(^| )key\\s+agg\\s+row( |$)")).count()
    assert(pos >= direct, "every direct contains-match must be flagged")
  }

  test("t13: quota cap holds per source, ranks are contiguous, reruns agree") {
    val out = SparkEntry.queries("t13_source_quota_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= 10, s"source $src exceeds the cap")
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length),
        s"source $src: ranks must be 1..k with no gaps")
    }
    val again = SparkEntry.queries("t13_source_quota_sample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)),
      "hash-ordered sampling is rerun-stable (no RNG state)")
  }

  test("t14: rare fraction bounded, rare tokens exist, totals reconcile") {
    val out = SparkEntry.queries("t14_rare_token_fraction")(spark, dir)
    assert(out.filter(col("n_rare") > col("n_tokens")).count() == 0)
    assert(out.filter(col("rare_fraction") < 0 || col("rare_fraction") > 1).count() == 0)
    assert(out.filter(col("n_rare") > 0).count() > 0,
      "the synthetic corpus has sub-half-mean-frequency tokens")
    val totalTokens = out.agg(sum("n_tokens")).collect()(0).getLong(0)
    val direct = graft.io.Tables.load(spark, dir, "documents")
      .select(explode(graft.functions.TextTokens.tokens(col("text")))).count()
    assert(totalTokens == direct, "per-doc token counts must sum to the corpus total")
  }

  test("d15: fixed-point centroid sums are exact vs a driver-side recompute") {
    val out = SparkEntry.queries("d15_embedding_centroids")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val vecs = graft.io.Tables.load(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val expect = vecs.flatMap { case (label, e) =>
      e.zipWithIndex.map { case (v, i) =>
        (label, i) -> math.floor(v.toDouble * 1000000).toLong }
    }.groupBy(_._1).map { case (k, vs) => k -> (vs.map(_._2).sum, vs.length.toLong) }
    assert(out == expect,
      "distributed fixed-point accumulation must equal the sequential fold exactly")
  }

  test("Bm25.topK: ranking laws, self-exclusion, and the stop-term df cap") {
    import graft.functions.Bm25
    val docs = Seq(
      (1L, "rare shared common common"),
      (2L, "rare common"),
      (3L, "shared common common common"),
      (4L, "common common"),
      (5L, "unrelated only here")).toDF("id", "text")
    val out = Bm25.topK(docs, "id", "text", docs.filter(col("id") === 1L),
        "id", "text", k = 10, excludeSelf = true)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.forall(_._1 == 1L) && out.forall(_._2 != 1L), "self must be excluded")
    assert(out.map(_._4).toSeq == (1 to out.length), "ranks are contiguous from 1")
    assert(out.map(_._3).toSeq == out.map(_._3).toSeq.sorted.reverse, "scores descend")
    // doc 2 shares the RARE term (df 2) and must outrank doc 4, which
    // shares only the ubiquitous one; doc 5 shares nothing → absent
    val byDoc = out.map(t => t._2 -> t._4).toMap
    assert(byDoc(2L) < byDoc(4L), "rare-term overlap must outrank stop-term-only overlap")
    assert(!byDoc.contains(5L), "no shared term → no candidate row")
    // df cap 2 keeps only 'rare'/'shared' (df 2 each): doc 4 (stop-term
    // overlap only) drops out entirely, the rare-term neighbors survive
    val capped = Bm25.topK(docs, "id", "text", docs.filter(col("id") === 1L),
        "id", "text", k = 10, maxDf = 2L, excludeSelf = true)
      .collect().map(_.getLong(1)).toSet
    assert(capped == Set(2L, 3L), s"df cap should prune to rare-term neighbors, got $capped")
    // rerun is bit-identical (integer micro-unit scores commute)
    val again = Bm25.topK(docs, "id", "text", docs.filter(col("id") === 1L),
        "id", "text", k = 10, excludeSelf = true)
      .orderBy(col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("NgramLm.scoreBigram: hand-traced smoothing incl. OOV and short-doc rows") {
    import graft.functions.NgramLm
    // reference counts: c2(a,b)=2, c2(b,a)=2; c1(a)=2, c1(b)=2; V=2
    val ref = Seq("a b a b", "b a").toDF("text")
    val tgt = Seq(
      (1L, "a b"),   // seen bigram: ln(3/4)
      (2L, "z z"),   // unseen context AND bigram: ln(1/(0+2))
      (3L, "a"),     // no transition — row kept with zeros
      (4L, "b a b")  // two seen transitions
    ).toDF("id", "text")
    val got = NgramLm.scoreBigram(ref, "text", tgt, "id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val ln34 = math.round(math.log(3.0 / 4.0) * 1e6) // -287682
    val ln12 = math.round(math.log(1.0 / 2.0) * 1e6) // -693147
    assert(got == Seq(
      (1L, 1L, ln34),
      (2L, 1L, ln12),
      (3L, 0L, 0L),
      (4L, 2L, 2 * ln34)))
    // smoothing is a PROPER distribution: summing p(w2|'a') over the
    // reference vocab {a, b} must give exactly (c1+V)/(c1+V) = 1
    val pAa = (0 + 1.0) / (2 + 2) // c2(a,a)=0
    val pAb = (2 + 1.0) / (2 + 2)
    assert(math.abs(pAa + pAb - 1.0) < 1e-15)
  }

  test("NgramLm.importanceWeights: sign rule separates target-like docs") {
    import graft.functions.NgramLm
    // Counts must dominate the Laplace smoothing or the comparison flips:
    // with 1-shot references the TARGET model's smaller vocab makes even
    // all-unseen dog text score ln(1/3) > the raw model's seen-but-diluted
    // bigrams — a real DSIR small-corpus artifact. 8× repetition puts both
    // models in the count-dominated regime the method assumes.
    val target = Seq.fill(8)("cat sat mat").toDF("text")
    val raw = (Seq.fill(8)("cat sat mat") ++ Seq.fill(8)("dog ran far")).toDF("text")
    val pool = Seq(
      (1L, "cat sat mat"), // target-like: p_target 9/11 per step vs 9/14
      (2L, "dog ran far")  // target-unseen: ln(1/3) steps vs seen raw mass
    ).toDF("doc_id", "text")
    val got = NgramLm.importanceWeights(target, raw, "text", pool, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "weight_fp6", "selected")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(got(0)._2 > 0L && got(0)._3, s"cat doc must select: ${got(0)}")
    assert(got(1)._2 < 0L && !got(1)._3, s"dog doc must not: ${got(1)}")
  }

  test("NgramLm.importanceWeights: target == raw collapses every weight to zero") {
    import graft.functions.NgramLm
    val ref = Seq("a b c", "c b a a").toDF("text")
    val pool = Seq((1L, "a b"), (2L, "z q a"), (3L, "c b a")).toDF("doc_id", "text")
    val got = NgramLm.importanceWeights(ref, ref, "text", pool, "doc_id", "text")
      .select("weight_fp6", "selected").as[(Long, Boolean)].collect()
    assert(got.forall { case (w, sel) => w == 0L && !sel }, got.toSeq.toString)
  }
}
