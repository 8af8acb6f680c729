package graft

import graft.io.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant pins for the corpus-assembly family (t34/t35 sequence
  * packing, d36 incremental novelty, t36 bigram PMI) beyond the DuckDB
  * hash gate: the packing views must be two consistent projections of ONE
  * token layout, the Bloom-routed anti join must equal the plain anti
  * join bit-for-bit, and the PMI ratio must rank a planted collocation
  * above an anti-collocation.
  */
class PackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("t34/t35 packing views describe the same token layout") {
    val perDoc = SparkEntry.queries("t34_sequence_packing")(spark, dir)
      .select("doc_id", "n_tok", "tok_start", "seq_first", "seq_last", "n_seqs")
      .collect()
    val perSeq = SparkEntry.queries("t35_packed_sequences")(spark, dir)
      .select("seq_id", "n_docs", "first_doc", "n_tokens")
      .collect().map(r => r.getLong(0) -> r).toMap

    // offsets are a gapless concatenation in doc_id order
    val byId = perDoc.sortBy(_.getLong(0))
    byId.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(2) + a.getLong(1) === b.getLong(2),
          "tok_start must be the exclusive prefix sum of n_tok")
      case _ =>
    }
    assert(byId.head.getLong(2) === 0L)

    // every sequence id in [0, maxSeq] exists; full sequences hold exactly
    // SeqLen tokens, the tail holds the remainder; doc contributions tile
    val totalTok = byId.map(_.getLong(1)).sum
    val maxSeq = (totalTok - 1) / 512
    assert(perSeq.keySet === (0L to maxSeq).toSet)
    perSeq.foreach { case (sid, r) =>
      val expected = if (sid < maxSeq) 512L else totalTok - 512L * maxSeq
      assert(r.getLong(3) === expected, s"sequence $sid token tally")
    }
    // per-seq doc counts are consistent with per-doc spans
    val spanCounts = byId.flatMap(r => r.getLong(3) to r.getLong(4))
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    assert(perSeq.map { case (s, r) => s -> r.getLong(1) } === spanCounts)
  }

  test("d36 bloom-routed novelty equals the plain anti join") {
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
    val prior = d.filter(col("doc_id") % 10 < 7).select(col("fp")).distinct()
    val plain = d.filter(col("doc_id") % 10 >= 7)
      .join(prior, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val routed = SparkEntry.queries("d36_incremental_novelty")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(routed === plain)
    assert(routed.nonEmpty, "sf0.001 batch should contain novel docs")
  }

  test("NfcNormalize: composes decomposed sequences, identity on NFC, idempotent") {
    import spark.implicits._
    val decomposed = "café niño Å"   // e+◌́, n+◌̃, A+◌̊
    val composed = "café niño Å"        // é ñ Å precomposed
    val rows = Seq(("d", decomposed), ("c", composed), ("a", "plain ascii"))
      .toDF("id", "s")
      .select(col("id"), graft.functions.expr.NfcNormalize(col("s")).as("n"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows("d") === composed, "decomposed input must compose")
    assert(rows("c") === composed, "already-NFC input unchanged (fast path)")
    assert(rows("a") === "plain ascii")
    // idempotence: normalizing twice is the same column
    val twice = Seq(decomposed).toDF("s")
      .select(graft.functions.expr.NfcNormalize(
        graft.functions.expr.NfcNormalize(col("s"))).as("n"))
      .head().getString(0)
    assert(twice === composed)
  }

  test("t38 shuffle is a permutation: shards partition the corpus, positions are gapless") {
    val rows = SparkEntry.queries("t38_deterministic_shuffle")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val total = graft.io.Tables.load(spark, dir, "documents").count()
    assert(rows.length.toLong === total, "every doc gets exactly one slot")
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.groupBy(_._2).foreach { case (shard, xs) =>
      assert(xs.map(_._3).sorted.toSeq === (1 to xs.length),
        s"shard $shard positions must be 1..n gapless")
    }
    assert(rows.map(_._2).distinct.length > 1, "corpus spreads over shards")
  }

  test("t36 PMI ranks a planted collocation above an anti-collocation") {
    // planted corpus: "new york" always adjacent (inserted as a unit into
    // a seed-shuffled filler stream); fillers pair haphazardly — the
    // ratio must put the planted collocation above every filler pair
    val docs = Seq.tabulate(8) { i =>
      val r = new scala.util.Random(i)
      val fillers = r.shuffle(Seq("foo", "alpha", "bar", "beta", "gamma",
        "foo", "bar", "delta", "eps"))
      val (before, after) = fillers.splitAt(r.nextInt(fillers.size))
      (i.toLong, (before ++ Seq("new york") ++ after).mkString(" "))
    }.toDF("doc_id", "text")
    val t = docs.select(split(lower(trim(col("text"))), "\\s+").as("ts"))
    val u = t.select(explode(col("ts")).as("w"))
    val uc = u.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = u.count().toDouble
    val bg = t.select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
    val cnt = uc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val pairs = bg.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def ratio(a: String, b: String): Double =
      pairs.getOrElse((a, b), 0L).toDouble * n / (cnt(a) * cnt(b))
    assert(ratio("new", "york") > 1.0)
    // the planted collocation beats every filler-filler pair
    val fillerPairs = pairs.keys.filterNot { case (a, b) =>
      a == "new" || b == "new" || a == "york" || b == "york" }
    assert(fillerPairs.nonEmpty)
    fillerPairs.foreach { case (a, b) =>
      assert(ratio("new", "york") > ratio(a, b), s"vs filler pair ($a,$b)") }
  }
}
