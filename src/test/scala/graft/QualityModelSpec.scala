package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QualityModel

/** Laws for the fastText-style quality classifier — the t57 gate pins
  * cross-engine parity; these pin the semantics parity can't see (the
  * rendezvous lesson): the bigram path is really a feature, the
  * division-free threshold equals the mean form, and edge docs behave.
  */
class QualityModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scoreOf(texts: Seq[String]) =
    QualityModel.score(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "doc_id", "text", QualityModel.gateWeights(spark),
      QualityModel.gateBuckets, QualityModel.gateBiasFp, QualityModel.gateThresholdFp)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)

  test("unigram weights sum and the bigram feature is load-bearing") {
    // same unigrams, different adjacency: "batch batch" fires the bigram
    // weight only in the adjacent spelling
    val r = scoreOf(Seq("batch fast batch", "batch batch fast"))
    assert(r(0)._2 == 5L && r(1)._2 == 5L, "3 unigrams + 2 bigrams each")
    assert(r(0)._3 == 300000L, "fast only — no lexicon bigram fires")
    assert(r(1)._3 == 300000L - 600000L, "adjacent batch batch fires the bigram")
    assert(r(0)._5 && !r(1)._5, "the bigram must flip the keep decision here")
  }

  test("division-free decision == mean-form threshold (incl. negative sums)") {
    val r = scoreOf(Seq("slow slow slow", "fast fast", "dup"))
    r.foreach { case (_, n, sumW, scoreNum, keep) =>
      assert(scoreNum == QualityModel.gateBiasFp * n + sumW)
      val meanKeep = // bias + mean(w) >= theta, exact rational comparison
        QualityModel.gateBiasFp * n + sumW >= QualityModel.gateThresholdFp * n
      assert(keep == meanKeep)
    }
    assert(!r(0)._5 && r(1)._5, "slow-only drops, fast-only keeps")
  }

  test("edge docs: empty text and whitespace-only score zero grams and keep at bias>=0") {
    val r = scoreOf(Seq("", "   "))
    r.foreach { case (_, n, s, num, keep) =>
      assert(n == 0L && s == 0L && num == 0L && keep)
    }
  }

  test("weight table merges lexicon collisions by SUM and is bucket-keyed") {
    val wt = QualityModel.weightTable(
      Seq(("x", 10L), ("x", 5L)).toDF("gram", "w_fp"), QualityModel.gateBuckets)
      .as[(Long, Long)].collect()
    assert(wt.length == 1 && wt.head._2 == 15L)
    assert(wt.head._1 >= 0L && wt.head._1 < QualityModel.gateBuckets)
  }

  test("non-ASCII text folds to '?' before hashing instead of throwing") {
    val r = scoreOf(Seq("fast café"))
    assert(r.head._2 == 3L) // 2 unigrams + 1 bigram, no PolynomialHash refusal
  }
}
