package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NgramLm

class KneserNeySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The continuation-count fixture: 'francisco' appears after ONE
    * context, 'york' after three; 'the' continues into 8 distinct words,
    * 'q' into one (c1: the=8, q=4). Reference counts: B = 13 distinct
    * bigrams, V = 17 vocab words (the, a1–a8, q, z, new, big, old, san,
    * york, francisco), so B+V = 30. */
  private def reference = (
    (1 to 8).map(i => s"the a$i") ++ Seq.fill(4)("q z") ++
      Seq("new york", "big york", "old york", "san francisco")
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("hand-computed probabilities: both backoff paths and the seen path") {
    val targets = Seq(
      (1L, "the york"),      // unseen bigram, known ctx: pure λ·p_cont
      (2L, "q francisco"),   // unseen bigram, known ctx, weak continuation
      (3L, "q z"),           // seen bigram: discounted + λ·p_cont
      (4L, "zzz york")       // UNSEEN context: bare p_cont
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreKneserNey(reference, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    def fp6(p: Double): Long = math.round(math.log(p) * 1e6)
    // the york: 0 + (3·8)·(3+1) / ((4·8)·(13+17)) = 96/960
    assert(got(0) == ((1L, 1L, fp6((3.0 * 8) * 4 / ((4.0 * 8) * 30)))), got(0).toString)
    // q francisco: 0 + (3·1)·(1+1) / ((4·4)·30) = 6/480
    assert(got(1) == ((2L, 1L, fp6((3.0 * 1) * 2 / ((4.0 * 4) * 30)))), got(1).toString)
    // q z (c2=4, c1=4, n1f=1, n1r(z)=1): (4·4−3)/(4·4) + (3·1)·2/((4·4)·30)
    assert(got(2) == ((3L, 1L,
      fp6(13.0 / 16 + (3.0 * 1) * 2 / ((4.0 * 4) * 30)))), got(2).toString)
    // zzz york: (3+1)/(13+17)
    assert(got(3) == ((4L, 1L, fp6(4.0 / 30))), got(3).toString)
  }

  test("the published inversion: KN reorders docs vs add-one smoothing") {
    // add-one sees only context counts: 'q francisco' (c1=4) outranks
    // 'the york' (c1=8). KN sees continuation counts: 'york' follows 3
    // distinct contexts and 'the' carries 8× the λ mass, so the order
    // FLIPS — the Kneser-Ney insight, and the reason it exists.
    val targets = Seq((1L, "the york"), (2L, "q francisco")).toDF("doc_id", "text")
    val addOne = NgramLm.scoreBigram(reference, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    val kn = NgramLm.scoreKneserNey(reference, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(addOne(0)._3 < addOne(1)._3,
      s"add-one must prefer the rare context: ${addOne.toSeq}")
    assert(kn(0)._3 > kn(1)._3,
      s"KN must prefer the many-context continuation: ${kn.toSeq}")
  }

  test("the model is a proper distribution over the reference vocabulary") {
    // Σ_w2∈vocab p(w2|w1) = 1 for every known context: the discounted
    // mass (c1 − D·n1f)/c1 plus λ·Σ p_cont, with Σ_vocab (n1r+1) = B+V
    val vocab = Seq("the", "q", "z", "new", "big", "old", "san",
      "york", "francisco") ++ (1 to 8).map(i => s"a$i")
    assert(vocab.size == 17) // exactly the reference vocabulary, each word once
    val ctxs = Seq("the", "q", "san")
    val targets = (for ((c, ci) <- ctxs.zipWithIndex; (w, wi) <- vocab.zipWithIndex)
      yield ((ci * 100 + wi).toLong, s"$c $w")).toDF("doc_id", "text")
    val got = NgramLm.scoreKneserNey(reference, "text", targets, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    ctxs.zipWithIndex.foreach { case (c, ci) =>
      val mass = got.filter(r => r._1 / 100 == ci)
        .map(r => math.exp(r._3 / 1e6)).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"context '$c' mass = $mass")
    }
  }

  test("modifiedDiscounts: exact rationals, rounding, clamps, empty buckets") {
    // n=(4,2,1,1): Y-den=8 → D1 = 4/8 → 500; D2 = (2·8·2 − 3·4·1)/(8·2)
    // = 20/16 = 1.25 → 1250; D3 = (3·8·1 − 4·4·1)/(8·1) = 8/8 → 1000
    assert(NgramLm.modifiedDiscounts(4, 2, 1, 1, 2) == ((500L, 1250L, 1000L)))
    // n=(1,1,1,1): y=3 → D1 = 1/3 → 333; D2 = (6−3)/3 = 1 → 1000;
    // D3 = (9−4)/3 = 5/3 → 1667
    assert(NgramLm.modifiedDiscounts(1, 1, 1, 1, 2) == ((333L, 1000L, 1667L)))
    // empty buckets pin to 0; n2=0 → D1 = n1/n1 = 1 → clamps to 999
    assert(NgramLm.modifiedDiscounts(5, 0, 0, 0, 0) == ((999L, 0L, 0L)))
    // a negative D2 numerator (huge n3) clamps to the 1-thousandth floor
    // (zero would send some unseen-bigram probability to exact 0: ln(0))
    assert(NgramLm.modifiedDiscounts(1, 1, 100, 0, 100)._2 == 1L)
    // the OPEN-ENDED d3 bucket: n3 = 0 with count-4 types present is NOT
    // empty (the t88 oracle found this shape at sf0.01) — the undefined
    // estimate falls back to d2 (else d1), never to a λ-zeroing 0
    assert(NgramLm.modifiedDiscounts(11, 1, 0, 1, 1) == ((846L, 2000L, 2000L)))
    assert(NgramLm.modifiedDiscounts(11, 0, 0, 1, 1)._3 == 999L) // no d2 → d1
  }

  test("modified KN: hand-computed scores across all three count buckets") {
    // one bigram type at each count 1..4: n1=n2=n3=n4=1 → d=(333,1000,1667);
    // B=4 types, V=8 words → B+V=12
    val ref = (Seq("p q") ++ Seq.fill(2)("r s") ++ Seq.fill(3)("t u") ++
      Seq.fill(4)("v w")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq(
      (1L, "t u"),  // count-3 bucket: d3
      (2L, "r s"),  // count-2 bucket: d2
      (3L, "p x"),  // unseen bigram, known ctx: pure λ·p_cont with d1·nc1
      (4L, "v w")   // count-4: also the d3 bucket
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreModifiedKneserNey(ref, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    def fp6(p: Double): Long = math.round(math.log(p) * 1e6)
    assert(got(0)._3 == fp6(1333.0 / 3000 + 1667.0 * 2 / (3000.0 * 12)), got(0).toString)
    assert(got(1)._3 == fp6(1000.0 / 2000 + 1000.0 * 2 / (2000.0 * 12)), got(1).toString)
    assert(got(2)._3 == fp6(0.0 / 1000 + 333.0 * 1 / (1000.0 * 12)), got(2).toString)
    assert(got(3)._3 == fp6(2333.0 / 4000 + 1667.0 * 2 / (4000.0 * 12)), got(3).toString)
  }

  test("modified KN differs from single-discount KN where buckets separate") {
    val ref = (Seq("p q") ++ Seq.fill(2)("r s") ++ Seq.fill(3)("t u") ++
      Seq.fill(4)("v w")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq((1L, "t u")).toDF("doc_id", "text")
    val kn = NgramLm.scoreKneserNey(ref, "text", targets, "doc_id", "text")
      .as[(Long, Long, Long)].head()
    val mkn = NgramLm.scoreModifiedKneserNey(ref, "text", targets, "doc_id", "text")
      .as[(Long, Long, Long)].head()
    // single-D discounts count-3 bigrams by 0.75; modified by 1.667 —
    // the same transition must score differently
    assert(kn._3 != mkn._3, s"kn=$kn mkn=$mkn")
    val e = intercept[IllegalArgumentException](
      NgramLm.scoreModifiedKneserNey(
        Seq((1L, "x y"), (2L, "x y")).toDF("doc_id", "text"), "text",
        targets, "doc_id", "text"))
    assert(e.getMessage.contains("singleton"), e.getMessage)
  }

  test("trigram modified KN: order-3 bucketed discounts REORDER docs vs t89") {
    // count-of-count engineering: trigram types n1=2 n2=2 n3=2 n4=0 →
    // (e1,e2,e3) = (333, 1000, 3000): a count-3 trigram's direct mass
    // vanishes (max(3000−3000,0)=0, all of it re-routed through λ·p2)
    // while a singleton keeps 667/1000 — vs the single-discount 3/4
    // which keeps 9/12 of count-3 mass and only 1/4 of singleton mass.
    // So doc A (a singleton trigram) vs doc B (a count-3 trigram) RANK
    // OPPOSITE ways under the two estimators — the separating fixture.
    val ref = (Seq("a1 b1 c1", "a2 b2 c2") ++
      Seq.fill(2)("a3 b3 c3") ++ Seq.fill(2)("a4 b4 c4") ++
      Seq.fill(3)("a5 b5 c5") ++ Seq.fill(3)("a6 b6 c6")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq((1L, "a1 b1 c1"), (2L, "a5 b5 c5")).toDF("doc_id", "text")
    val single = NgramLm.scoreKneserNeyTrigram(ref, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    val mod = NgramLm.scoreModifiedKneserNeyTrigram(ref, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(single(0)._3 < single(1)._3,
      s"single-discount must prefer the count-3 trigram: ${single.toSeq}")
    assert(mod(0)._3 > mod(1)._3,
      s"modified must prefer the lightly-discounted singleton: ${mod.toSeq}")
  }

  test("order-5 modified KN: higher-order context mass REORDERS docs vs t91") {
    // the separating fixture (r17 verdict item 3): doc B's trigrams are
    // 10×-frequent but come from 3-TOKEN reference docs, which contribute
    // NOTHING to the 5-gram model's count frames; doc A's full 5-gram is
    // a reference singleton. Order 3 ranks B far above A (ln(~0.9) per
    // transition vs a heavily-discounted singleton path). Order 5:
    // A telescopes through matched contexts at every level down to the
    // stronger continuation p_cont(z) = (1+1)/(B2+V), while B's contexts
    // are unseen at EVERY level and it bottoms out at p_cont(e) =
    // (0+1)/(B2+V) — half A's mass. The ranking FLIPS: order-4/5 context
    // mass is information order 3 cannot see.
    val ref = (Seq("v w x y z") ++
      Seq.fill(10)("a b c") ++ Seq.fill(10)("b c d") ++ Seq.fill(10)("c d e"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq((1L, "v w x y z"), (2L, "a b c d e")).toDF("doc_id", "text")
    val o3 = NgramLm.scoreModifiedKneserNeyTrigram(
        ref, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    val o5 = NgramLm.scoreModifiedKneserNeyOrderN(
        ref, "text", targets, "doc_id", "text", order = 5)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    // per-transition mean — the t87 ordering key (n_scored differs
    // across orders: 3 trigram vs 1 five-gram transitions per doc)
    def mean(r: (Long, Long, Long)) = r._3.toDouble / r._2
    assert(mean(o3(0)) < mean(o3(1)),
      s"order-3 must prefer the frequent-trigram doc: ${o3.toSeq}")
    assert(mean(o5(0)) > mean(o5(1)),
      s"order-5 must prefer the matched-5-gram-context doc: ${o5.toSeq}")
  }

  test("order-5 modified KN: per-level singleton guard and short-doc totals") {
    val ref5 = (Seq("v w x y z") ++ Seq.fill(10)("a b c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // docs under 5 tokens score n_scored = 0 with a zero sum — total, not
    // dropped; unseen-everything 5-grams bottom out at p_cont (finite)
    val targets = Seq((1L, "too short"), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val got = NgramLm.scoreModifiedKneserNeyOrderN(
        ref5, "text", targets, "doc_id", "text", order = 5)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(got(0) == ((1L, 0L, 0L)), got(0).toString)
    assert(got(1)._2 == 1L && got(1)._3 < 0L, got(1).toString)
    // a reference whose level-5 types all repeat (no singletons) refuses
    // loudly, naming the level
    val noSingle = (Seq.fill(2)("v w x y z"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      NgramLm.scoreModifiedKneserNeyOrderN(
        noSingle, "text", targets, "doc_id", "text", order = 5))
    assert(e.getMessage.contains("singleton level-5"), e.getMessage)
    // order bounds are validated up front
    val e2 = intercept[IllegalArgumentException](
      NgramLm.scoreModifiedKneserNeyOrderN(
        ref5, "text", targets, "doc_id", "text", order = 2))
    assert(e2.getMessage.contains("order must be in [3, 8]"), e2.getMessage)
  }

  test("trigram modified KN: each order's singleton guard refuses loudly") {
    // no singleton TRIGRAM types (both types count 2) → the order-3
    // estimate is undefined and must refuse naming the order
    val noSingle3 = (Seq.fill(2)("a b c") ++ Seq.fill(2)("p q r")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      NgramLm.scoreModifiedKneserNeyTrigram(
        noSingle3, "text", targets, "doc_id", "text"))
    assert(e.getMessage.contains("singleton trigram"), e.getMessage)
    // singleton trigrams exist but every ADJUSTED bigram count is ≥ 2
    // (two extending w1 per (w2,w3)) → the order-2 estimate refuses
    val noSingle2 = (Seq("a b c", "x b c") ++ Seq("p q r", "y q r")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val e2 = intercept[IllegalArgumentException](
      NgramLm.scoreModifiedKneserNeyTrigram(
        noSingle2, "text", targets, "doc_id", "text"))
    assert(e2.getMessage.contains("singleton adjusted-bigram"), e2.getMessage)
  }

  test("trigram KN: hand-computed scores through every backoff path") {
    // reference: (a,b,c)×2, (x,b,c)×1, (p,q,r)×1. Adjusted counts:
    // c′(b,c)=2 (a and x extend it), c′(q,r)=1 → ctx′(b)=2, ctx′(q)=1,
    // B2=2, V=7 → B2+V=9. n1rc: c→1, r→1.
    val ref = (Seq.fill(2)("a b c") ++ Seq("x b c", "p q r")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val targets = Seq(
      (1L, "a b c"),  // seen trigram: full 3-level interpolation
      (2L, "z b c"),  // unseen (z,b) context → pure p2
      (3L, "a b r"),  // known (a,b), unseen trigram AND unseen bigram (b,r)
      (4L, "z z r"),  // w2 unknown entirely → unigram continuation
      (5L, "a b")     // 2 tokens: no trigram transition
    ).toDF("doc_id", "text")
    val got = NgramLm.scoreKneserNeyTrigram(ref, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    def fp6(p: Double): Long = math.round(math.log(p) * 1e6)
    // p2(c|b) = max(2·4−3,0)/(4·2) + (3·1)·(1+1)/((4·2)·9)
    val p2cb = 5.0 / 8 + (3.0 * 1) * 2 / (8.0 * 9)
    // p3(c|ab) = max(2·4−3,0)/(4·2) + ((3·1)/(4·2))·p2
    assert(got(0) == ((1L, 1L, fp6(5.0 / 8 + (3.0 / 8) * p2cb))), got(0).toString)
    assert(got(1) == ((2L, 1L, fp6(p2cb))), got(1).toString)
    // p2(r|b): cp(b,r) unseen → 0-mass first term + (3·1)·(1+1)/((4·2)·9);
    // p3 = 0 + (3/8)·p2
    val p2rb = 0.0 / 8 + (3.0 * 1) * 2 / (8.0 * 9)
    assert(got(2) == ((3L, 1L, fp6(0.0 / 8 + (3.0 / 8) * p2rb))), got(2).toString)
    // unknown w2=z → p_cont(r) = (1+1)/9
    assert(got(3) == ((4L, 1L, fp6(2.0 / 9))), got(3).toString)
    assert(got(4) == ((5L, 0L, 0L)), got(4).toString)
  }

  test("trigram KN: per-context properness and the discount guard") {
    val ref = (Seq.fill(2)("a b c") ++ Seq("x b c", "p q r", "a b d"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // Σ_w3∈vocab p3(w3|a,b) = 1: both levels are proper distributions
    // over the vocabulary (the add-one continuation sums to 1 there)
    val vocab = Seq("a", "b", "c", "d", "p", "q", "r", "x")
    val targets = vocab.zipWithIndex
      .map { case (w, i) => (i.toLong, s"a b $w") }.toDF("doc_id", "text")
    val got = NgramLm.scoreKneserNeyTrigram(ref, "text", targets, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
    val mass = got.map(r => math.exp(r._3 / 1e6)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"p3(·|a,b) mass = $mass")
    val e = intercept[IllegalArgumentException](
      NgramLm.scoreKneserNeyTrigram(ref, "text", targets, "doc_id", "text",
        discountNum = 4, discountDen = 4))
    assert(e.getMessage.contains("discount"), e.getMessage)
  }

  test("empty reference refuses loudly in every scorer (never ln(Inf))") {
    // a token-less reference makes the continuation/vocab denominator 0;
    // unguarded, p_cont = +Infinity and ln(Inf) CASTS to Long.MaxValue —
    // a silently absurd score (and DuckDB fails the cast: divergence)
    val emptyRef = Seq((1L, " "), (2L, "")).toDF("doc_id", "text")
    val targets = Seq((1L, "a b c d")).toDF("doc_id", "text")
    def msgOf(f: => Unit): String = {
      val e = intercept[Exception](f)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).mkString(" | ")
    }
    assert(msgOf(NgramLm.scoreBigram(emptyRef, "text", targets, "doc_id", "text")
      .collect()).contains("empty reference"))
    assert(msgOf(NgramLm.scoreKneserNey(emptyRef, "text", targets, "doc_id", "text")
      .collect()).contains("empty reference"))
    assert(msgOf(NgramLm.scoreKneserNeyTrigram(emptyRef, "text", targets,
      "doc_id", "text").collect()).contains("empty reference"))
    // modified KN already refuses at the count-of-count fold
    assert(msgOf(NgramLm.scoreModifiedKneserNey(emptyRef, "text", targets,
      "doc_id", "text")).contains("singleton"))
  }

  test("perplexityBuckets: exact tertile cuts, per-language, unscored kept") {
    // lang A: 5 scored docs with strictly ordered per-transition scores
    // (−1, −2, −3, −4, −5 micro-nat ppl keys) → tertiles by rank:
    // (3·(r−1)) div 5 = 0,0,1,1,2 → head,head,middle,middle,tail.
    // lang B: 1 doc → head. One n_scored=0 doc → 'unscored'.
    val scored = Seq(
      (1L, "A", 2L, -2000000L),  // key −1e6 → rank 1
      (2L, "A", 1L, -2000000L),  // key −2e6 → rank 2
      (3L, "A", 2L, -6000000L),  // key −3e6 → rank 3
      (4L, "A", 1L, -4000000L),  // key −4e6 → rank 4
      (5L, "A", 1L, -5000000L),  // key −5e6 → rank 5
      (6L, "B", 1L, -9000000L),
      (7L, "A", 0L, 0L)
    ).toDF("doc_id", "lang", "n_scored", "logprob_fp6")
    val got = NgramLm.perplexityBuckets(scored, "doc_id", "lang")
      .orderBy("doc_id").as[(Long, String, Long, Long, String)].collect()
    assert(got.map(_._5).toSeq ==
      Seq("head", "head", "middle", "middle", "tail", "head", "unscored"),
      got.toSeq.toString)
  }

  test("perplexityBuckets tiebreak: equal keys order by doc id") {
    val scored = (1L to 3L).map(i => (i, "A", 1L, -1000000L))
      .toDF("doc_id", "lang", "n_scored", "logprob_fp6")
    val got = NgramLm.perplexityBuckets(scored, "doc_id", "lang")
      .orderBy("doc_id").as[(Long, String, Long, Long, String)].collect()
    assert(got.map(_._5).toSeq == Seq("head", "middle", "tail"), got.toSeq.toString)
  }

  test("short docs, unseen everything, and the discount guard") {
    val targets = Seq((1L, "one"), (2L, ""), (3L, "zz qq")).toDF("doc_id", "text")
    val got = NgramLm.scoreKneserNey(reference, "text", targets, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(got(0) == ((1L, 0L, 0L)))
    assert(got(1) == ((2L, 0L, 0L)))
    // zz qq: unseen ctx, unseen w2 → the 1/(B+V) = 1/30 floor, never ln(0)
    assert(got(2)._2 == 1L)
    assert(got(2)._3 == math.round(math.log(1.0 / 30) * 1e6), got(2).toString)
    val e = intercept[IllegalArgumentException](
      NgramLm.scoreKneserNey(reference, "text", targets, "doc_id", "text",
        discountNum = 5, discountDen = 4))
    assert(e.getMessage.contains("discount"), e.getMessage)
  }
}
