package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.NegativeSampling
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

/** Laws for the word2vec-style negative sampler — the cross-engine gate
  * (d67) pins parity; the sampling LAWS (proportionality, exactness of
  * the table partition, replay) are pinned here (the rendezvous lesson:
  * parity alone cannot catch identical-wrong placement).
  */
class NegativeSamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def draw(
      pairs: Seq[(Long, Long)], counts: Seq[(Long, Long)],
      k: Int = 2, t: Long = 4096L) =
    NegativeSampling.negativeSamples(
      pairs.toDF("center", "context"), "center", "context",
      counts.toDF("v", "cnt"), "v", "cnt", k, t)

  test("exactly k rows per pair, negatives always from the vocabulary") {
    val pairs = (1L to 20L).map(i => (i, i + 100L))
    val vocab = Seq(7L -> 3L, 8L -> 1L, 9L -> 12L)
    val got = draw(pairs, vocab).as[(Long, Long, Long, Long)].collect()
    assert(got.length == 40)
    assert(got.groupBy(r => (r._1, r._2)).forall(_._2.map(_._3).sorted.toSeq == Seq(0L, 1L)))
    assert(got.map(_._4).toSet.subsetOf(Set(7L, 8L, 9L)))
  }

  test("a single-item vocabulary is always the negative; rerun is identical") {
    val pairs = Seq(1L -> 2L, 3L -> 4L)
    val a = draw(pairs, Seq(42L -> 5L)).as[(Long, Long, Long, Long)].collect().toSet
    assert(a.forall(_._4 == 42L))
    val b = draw(pairs, Seq(42L -> 5L)).as[(Long, Long, Long, Long)].collect().toSet
    assert(a == b, "re-evaluation must replay the identical draw set")
  }

  test("unigram^(3/4) proportionality: the heavy item dominates draws ~ by weight ratio") {
    // weights: 1^(3/4)=1 vs 16^(3/4)=8 → heavy item should own ~8/9 of
    // the table and so ~8/9 of many draws (deterministic, so the exact
    // count is stable; assert a generous band around 8/9)
    val pairs = (1L to 500L).map(i => (i, i * 7L + 1L))
    val got = draw(pairs, Seq(1L -> 1L, 2L -> 16L), k = 2)
      .groupBy(col("negative")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val total = got.values.sum.toDouble
    val heavyShare = got.getOrElse(2L, 0L) / total
    assert(heavyShare > 0.8 && heavyShare < 0.95, s"heavy share $heavyShare, want ~8/9")
  }

  test("the slot quantization partitions [0, T) exactly (every draw joins exactly one negative)") {
    // with ragged weights the ceil-division ranges must still tile the
    // table: k·|pairs| rows in, k·|pairs| rows out — no lost or doubled
    // slots (a gap or overlap would change the row count)
    val pairs = (1L to 100L).map(i => (i, i + 1000L))
    val vocab = Seq(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 5L, 5L -> 7L, 6L -> 11L)
    assert(draw(pairs, vocab, k = 3, t = 101L).count() == 300L)
  }

  test("slot bounds survive total weight past Long.MaxValue / T (decimal quantization)") {
    // 50k items at cnt=2e6 → w ≈ 5.3e10 each, W ≈ 2.7e15; at T=4096,
    // W·T ≈ 1.1e19 > Long.MaxValue — a BIGINT cw·T would throw under
    // ANSI (or silently corrupt slots without it). The DECIMAL(38,0)
    // quantization must still tile [0, T) exactly: k·|pairs| rows out.
    val vocab = (1L to 50000L).map(v => (v, 2000000L))
    val pairs = (1L to 30L).map(i => (i, i + 5L))
    assert(draw(pairs, vocab, k = 2).count() == 60L)
  }

  test("JSONL export round-trip: the training file reads back identical") {
    val out = draw((1L to 50L).map(i => (i, i + 9L)), Seq(5L -> 2L, 6L -> 9L))
    val dir = GraftBridge.tempDir("negsamp") + "/triples"
    out.write.mode("overwrite").json(dir)
    val back = spark.read
      .schema("center LONG, context LONG, draw_idx LONG, negative LONG")
      .json(dir)
      .select(col("center"), col("context"), col("draw_idx"), col("negative"))
    assert(back.exceptAll(out).unionAll(out.exceptAll(back)).count() == 0L,
      "JSONL round-trip must preserve every training triple")
  }
}
