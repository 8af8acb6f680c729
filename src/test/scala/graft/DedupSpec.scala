package graft

import graft.functions.{MinHashLSH, SimHash, TextAnalysis, TextTokens}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for the dedup operator family on a corpus with planted
  * near-duplicates (the operators must find them) and unrelated docs (the
  * operators must not pair them).
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Deterministic word-salad doc from a seed. */
  private def doc(seed: Int, n: Int = 60): String = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
  }

  // 0/1: identical; 2: one-word edit of 0; 3..9: unrelated.
  private lazy val docs = {
    val base = doc(1)
    val edited = base.split(" ").updated(30, "omega").mkString(" ")
    Seq((0L, base), (1L, base), (2L, edited)) ++
      (3 to 9).map(i => (i.toLong, doc(i * 100)))
  }.toDF("doc_id", "text")

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val withH = docs.select(col("doc_id"),
      TextTokens.wordShingles(col("text"), 3).as("sh"),
      TextTokens.hashedShingles(col("text"), 3).as("hs"))
    val cand = MinHashLSH.candidatePairs(withH, "doc_id", "hs")
    val verified = cand
      .join(withH.select(col("doc_id").as("ida"), col("sh").as("sha")), col("id_a") === col("ida"))
      .join(withH.select(col("doc_id").as("idb"), col("sh").as("shb")), col("id_b") === col("idb"))
      .select(col("id_a"), col("id_b"),
        MinHashLSH.jaccard(col("sha"), col("shb")).as("j"))
      .filter(col("j") >= 0.5)
      .collect()
    val pairs = verified.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "identical pair missed")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "one-edit pair missed")
    assert(pairs.size == 3, s"unexpected extra pairs: $pairs")
  }

  test("native HashedWordShingles == HOF shingle hashes as sets") {
    import graft.functions.expr.HashedWordShingles
    val rows = docs.select(
      HashedWordShingles(col("text"), 3).as("native"),
      TextTokens.hashedShingles(col("text"), 3).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0).toSet == r.getSeq[Long](1).toSet)
    }
  }

  test("native WordShingleStrings == HOF shingles, ordered, both variants") {
    import graft.functions.expr.WordShingleStrings
    // weird inputs: short docs (< n tokens), empty, whitespace-only,
    // repeated shingles (distinct order must be first-occurrence), and
    // LEADING/TRAILING non-space whitespace — Spark's trim strips spaces
    // only, so "\ta b c" keeps an empty first token and "a b c\n" an empty
    // last one; a Java-String tokenizer in the native expression would
    // silently drop them (and the oracle would disagree)
    val tricky = docs.select(col("text"))
      .union(Seq("", "   ", "one two", "a b a b a b", "x\t y \n z w",
        "\tfoo bar baz qux", "foo bar baz qux\n", " \t mixed lead trail \n ",
        "a b c d").toDF("text"))
    val rows = tricky.select(
      WordShingleStrings(col("text"), 3).as("nd"),
      TextTokens.wordShingles(col("text"), 3).as("hd"),
      WordShingleStrings(col("text"), 3, distinct = false).as("na"),
      TextTokens.wordShinglesAll(col("text"), 3).as("ha"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "distinct variant diverged")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "all variant diverged")
    }
  }

  test("codegen'd MinHashSignature agrees bit-for-bit with the HOF fold") {
    val rows = docs.select(
      MinHashLSH.minhashes(TextTokens.hashedShingles(col("text"), 3)).as("native"),
      MinHashLSH.minhashesFold(TextTokens.hashedShingles(col("text"), 3)).as("fold"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("minhash of identical shingle sets is identical; jaccard of equal sets is 1") {
    val mh = docs.filter(col("doc_id") <= 1)
      .select(MinHashLSH.minhashes(TextTokens.hashedShingles(col("text"), 3)).as("m"))
      .collect().map(_.getSeq[Long](0))
    assert(mh(0) == mh(1))
  }

  test("simhash: identical docs → distance 0; one-edit → small; unrelated → large") {
    val sims = docs.select(col("doc_id"),
      SimHash.simhash64(transform(TextTokens.tokens(col("text")), t => xxhash64(t))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sims(0L), sims(1L)) == 0)
    assert(ham(sims(0L), sims(2L)) <= 8, s"edit distance too large: ${ham(sims(0L), sims(2L))}")
    assert(ham(sims(0L), sims(5L)) > 8, "unrelated docs too close")
  }

  test("rolling hash matches an independent fold implementation") {
    val text = "Some  Text\nwith   Whitespace"
    val canon = text.trim.toLowerCase.replaceAll("\\s+", " ")
    val expected = canon.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val got = Seq(text).toDF("t")
      .select(TextAnalysis.rollingHash(col("t"))).head().getLong(0)
    assert(got == expected)
  }

  test("native polynomial hash == the HOF aggregate formulation it replaced") {
    // The O(len²) transform/aggregate chain the native expression
    // replaced stays here as the cross-check, including the non-ASCII
    // fold path ('é' → '?') and an all-whitespace edge.
    val texts = Seq("Some  Text\nwith   Whitespace", "café crème ÉTÉ",
      "   ", "a", "the same phrase the same phrase")
    val df = texts.toDF("t")
    val canon = regexp_replace(
      regexp_replace(lower(trim(col("t"))), "\\s+", " "), "[^\\x00-\\x7F]", "?")
    val codes = transform(sequence(lit(1), length(canon)), i => ascii(canon.substr(i, lit(1))))
    val hof = df.select(
      aggregate(codes, lit(0L), (acc, c) => pmod(acc * 31 + c.cast("long"), lit(1000000007L))))
      .collect().map(_.getLong(0)).toSeq
    val native = df.select(TextAnalysis.rollingHash(col("t")))
      .collect().map(_.getLong(0)).toSeq
    assert(native == hof)
  }

  test("native simhash64 == the HOF fold it replaced, bit for bit (nulls included)") {
    val rows = Seq(
      Seq[java.lang.Long](1L, 2L, 3L, -7L),
      Seq[java.lang.Long](Long.MaxValue, Long.MinValue, 0L),
      Seq[java.lang.Long](5L, null, 5L), // null feature: -1 to every counter
      Seq[java.lang.Long]())
    val df = rows.toDF("hs")
    val native = df.select(SimHash.simhash64(col("hs"))).collect().map(_.getLong(0)).toSeq
    val hof = df.select(SimHash.simhash64Hof(col("hs"))).collect().map(_.getLong(0)).toSeq
    assert(native == hof)
    // and over real tokenized text
    val texty = docs.select(
      SimHash.simhash64(transform(TextTokens.tokens(col("text")), t => xxhash64(t))).as("a"),
      SimHash.simhash64Hof(transform(TextTokens.tokens(col("text")), t => xxhash64(t))).as("b"))
      .collect()
    texty.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("polynomial hash refuses non-ASCII-folded input loudly") {
    val e = intercept[Exception] {
      Seq("naïve").toDF("t")
        .select(graft.functions.expr.PolynomialHash(col("t"))).head()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("ASCII-folded"))
  }

  test("shingle DF cap kills planted stop-phrase fan-out, keeps real near-dups") {
    // 20 docs whose ONLY cross-document shingle is one stop 3-gram
    // (everything else carries a per-doc unique token), plus one genuine
    // near-dup pair. Uncapped, the stop shingle alone manufactures
    // C(20,2) = 190 candidate pairs on ONE join key — exactly the skew
    // shape the guard exists for; capped at maxDf=10 those pairs vanish
    // while the low-DF near-dup pair survives untouched.
    val dir = GraftBridge.tempDir("dedup-skew")
    val stopDocs = (0 until 20).map { i =>
      (i.toLong, s"common stop phrase u${i}a u${i}b u${i}c u${i}d")
    }
    val nearDup = Seq(
      (100L, "near dup body one two three four five"),
      (101L, "near dup body one two three four six"))
    (stopDocs ++ nearDup).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val uncapped = graft.queries.DedupQueries.shinglePairStats(spark, dir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.queries.DedupQueries
      .shinglePairStats(spark, dir, maxDf = 10L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stopPairs = for {
      a <- 0L until 20L; b <- (a + 1) until 20L
    } yield (a, b)
    assert(stopPairs.toSet.subsetOf(uncapped), "uncapped must see the f²/2 fan-out")
    assert(uncapped.contains((100L, 101L)))
    assert(capped == Set((100L, 101L)),
      s"cap must drop every stop-phrase pair and keep the near-dup: $capped")
  }

  test("edit-distance blocking: cap kills a boilerplate-prefix block, keeps small-block near-dups") {
    // 20 titles sharing one 10-char boilerplate prefix (one block →
    // C(20,2) = 190 levenshtein verifies on ONE join key — the skew shape
    // the cap exists for) plus a genuine typo pair in its own 2-doc
    // block. Capped at 10 the boilerplate block vanishes; the typo pair
    // survives with its true distance.
    val boiler = (0 until 20).map(i => (i.toLong, f"boilerplate title variant $i%02d"))
    val typo = Seq((100L, "unique heading alpha"), (101L, "unique heading alphq"))
    val titled = (boiler ++ typo).toDF("doc_id", "title")
    val uncapped = graft.queries.DedupQueries
      .editNearDupPairs(titled, maxDist = 8, maxBlock = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.queries.DedupQueries
      .editNearDupPairs(titled, maxDist = 8, maxBlock = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert((for { a <- 0L until 20L; b <- (a + 1) until 20L } yield (a, b))
      .toSet.subsetOf(uncapped), "uncapped must see the boilerplate fan-out")
    assert(uncapped.contains((100L, 101L)))
    assert(capped.toSeq == Seq((100L, 101L, 1)),
      s"cap must drop the boilerplate block, keep the typo pair at distance 1: ${capped.toSeq}")
  }

  test("repeated-span islands: a shared passage merges to ONE maximal span per doc") {
    // Two docs share a verbatim 12-token passage at different offsets;
    // every other token is doc-unique. 12 tokens → 5 flagged overlapping
    // 8-windows per doc, consecutive positions → exactly one island,
    // spanning precisely the passage. A third doc with no sharing must
    // produce no rows.
    val dir = GraftBridge.tempDir("dedup-span")
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $passage a4 a5"),
      (2L, s"b1 $passage b2 b3 b4 b5 b6"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = graft.SparkEntry.queries("d35_repeated_spans")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3)))
      .toMap
    // doc 1: passage tokens occupy positions 3..14 → windows 3..7 flagged
    assert(spans(1L) == ((3, 14, 5L)), s"doc1 span wrong: ${spans.get(1L)}")
    // doc 2: passage at positions 1..12 → windows 1..5
    assert(spans(2L) == ((1, 12, 5L)), s"doc2 span wrong: ${spans.get(2L)}")
    assert(!spans.contains(3L), "unshared doc must yield no spans")
  }

  test("fingerprints: canonical md5 equates whitespace variants; token-set md5 equates reorderings") {
    val df = Seq(
      ("a", "hello  world"), ("b", "hello world"), ("c", "world hello"))
      .toDF("id", "t")
      .select(col("id"),
        TextAnalysis.fingerprintMd5(col("t")).as("canon"),
        TextAnalysis.fingerprintTokenSet(col("t")).as("tokset"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(df("a")._1 == df("b")._1)
    assert(df("a")._1 != df("c")._1)
    assert(df("a")._2 == df("c")._2)
  }
}
