package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Decontaminate
import org.apache.spark.sql.functions.col

/** Law tests for benchmark decontamination — the cross-engine gate (d65)
  * pins parity, but parity alone cannot catch an identical-wrong
  * algorithm (the rendezvous lesson), so the leak-detection LAWS are
  * pinned here on planted fixtures.
  */
class DecontaminateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def words(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  private def flag(
      train: Seq[(Long, String)], ev: Seq[(Long, String)],
      n: Int = 5, minOverlap: Long = 1L, maxDf: Long = 0L) =
    Decontaminate.flagOverlap(
      train.toDF("doc_id", "text"), ev.toDF("doc_id", "text"),
      "doc_id", "text", n, minOverlap, maxDf)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("an exact eval copy flags; a disjoint doc does not; short docs keep a (0,0,false) row") {
    val evalDoc = words(8, "ev") // 8 tokens → 4 distinct 5-grams
    val got = flag(
      train = Seq(1L -> evalDoc, 2L -> words(8, "tr"), 3L -> "too short"),
      ev = Seq(100L -> evalDoc))
    assert(got(1L) == ((4L, 4L, true)), "verbatim eval copy must flag with full overlap")
    assert(got(2L) == ((4L, 0L, false)), "disjoint doc must not flag")
    assert(got(3L) == ((0L, 0L, false)), "sub-n doc keeps the zero row")
    assert(got.size == 3)
  }

  test("partial overlap counts colliding shingles exactly; minOverlap raises the bar") {
    // train doc = 4 eval tokens then 4 fresh ones → exactly one shared
    // 5-gram window does NOT exist (no 5 consecutive shared tokens);
    // use a 9-token doc sharing its first 5 tokens with eval → 1 shared
    // 5-gram of its 5 total.
    val ev = words(8, "ev")
    val trainDoc = ((1 to 5).map(i => s"ev$i") ++ (1 to 4).map(i => s"x$i")).mkString(" ")
    val loose = flag(Seq(1L -> trainDoc), Seq(100L -> ev))
    assert(loose(1L) == ((5L, 1L, true)))
    val strict = flag(Seq(1L -> trainDoc), Seq(100L -> ev), minOverlap = 2L)
    assert(strict(1L) == ((5L, 1L, false)), "minOverlap=2 must not flag a single collision")
  }

  test("maxDf drops ubiquitous shingles from BOTH counts (the universe is redefined)") {
    // the same 6-token text in 3 train docs → its 2 distinct 5-grams have
    // train df 3; with maxDf=2 they leave the universe entirely, so the
    // eval collision disappears AND n_shingles drops to 0
    val common = words(6, "c")
    val train = Seq(1L -> common, 2L -> common, 3L -> common, 4L -> words(6, "u"))
    val got = flag(train, Seq(100L -> common), maxDf = 2L)
    assert(got(1L) == ((0L, 0L, false)) && got(2L) == ((0L, 0L, false)) &&
      got(3L) == ((0L, 0L, false)), "capped shingles must vanish from both counts")
    assert(got(4L) == ((2L, 0L, false)), "df-1 shingles survive the cap")
    val uncapped = flag(train, Seq(100L -> common))
    assert(uncapped(1L) == ((2L, 2L, true)), "without the cap the copies flag")
    val e = intercept[IllegalArgumentException](flag(train, Seq(100L -> common), maxDf = -1L))
    assert(e.getMessage.contains("maxDf") && e.getMessage.contains("-1"), e.getMessage)
  }

  private def excise(
      train: Seq[(Long, String)], ev: Seq[(Long, String)], n: Int = 5) =
    Decontaminate.exciseOverlap(
      train.toDF("doc_id", "text"), ev.toDF("doc_id", "text"),
      "doc_id", "text", n)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("excision: verbatim copy empties, disjoint doc survives intact, partial cut is exact") {
    val evalDoc = words(8, "ev")
    // partial doc: 5 eval tokens then 4 fresh → ONE colliding 5-gram at
    // pos 0 covers tokens 0..4; clean = the 4 fresh tokens
    val partial = ((1 to 5).map(i => s"ev$i") ++ (1 to 4).map(i => s"x$i")).mkString(" ")
    val got = excise(
      Seq(1L -> evalDoc, 2L -> words(8, "tr"), 3L -> partial, 4L -> "too short"),
      Seq(100L -> evalDoc))
    assert(got(1L) == ((8L, 8L, "")), "verbatim copy must excise to empty")
    assert(got(2L) == ((8L, 0L, words(8, "tr"))), "disjoint doc survives token-identical")
    assert(got(3L) == ((9L, 5L, "x1 x2 x3 x4")), "cut exactly the colliding window")
    assert(got(4L) == ((2L, 0L, "too short")), "sub-n docs pass through")
  }

  test("excision: overlapping hit windows cut their union, not double-count") {
    val ev = words(9, "ev") // 9 tokens → 5-grams at pos 0..4
    // train doc shares tokens ev1..ev6 then fresh: colliding 5-grams at
    // pos 0 and 1 → cut union = tokens 0..5 (6 tokens), kept = fresh 3
    val doc = ((1 to 6).map(i => s"ev$i") ++ (1 to 3).map(i => s"y$i")).mkString(" ")
    val got = excise(Seq(1L -> doc), Seq(100L -> ev))
    assert(got(1L) == ((9L, 6L, "y1 y2 y3")))
  }

  test("excision pieces: split at the cut, and re-flagging the pieces finds ZERO residual overlap") {
    // eval doc = mid-span of the train doc: prefix x1..x6, eval ev1..ev5,
    // suffix y1..y6 — the single colliding 5-gram cuts positions 6..10,
    // leaving two pieces whose seam, if JOINED, would form x-y n-grams
    // the split form never creates.
    val ev = words(5, "ev")
    val doc = ((1 to 6).map(i => s"x$i") ++ (1 to 5).map(i => s"ev$i") ++
      (1 to 6).map(i => s"y$i")).mkString(" ")
    val pieces = Decontaminate.excisePieces(
      Seq(1L -> doc).toDF("doc_id", "text"), Seq(100L -> ev).toDF("doc_id", "text"),
      "doc_id", "text", n = 5)
      .as[(Long, Int, Long, Long, String)].collect().sortBy(_._2)
    assert(pieces.toSeq == Seq(
      (1L, 0, 0L, 6L, words(6, "x")),
      (1L, 1, 11L, 6L, words(6, "y"))), pieces.mkString(", "))
    // the LAW: pieces re-flagged against the same eval corpus at the same
    // n must report zero overlap — guaranteed by the split construction
    val reflag = Decontaminate.flagOverlap(
      Decontaminate.excisePieces(
        Seq(1L -> doc, 2L -> words(12, "z")).toDF("doc_id", "text"),
        Seq(100L -> ev).toDF("doc_id", "text"), "doc_id", "text", n = 5)
        .select((col("doc_id") * 100 + col("piece_idx")).as("doc_id"),
          col("piece_text").as("text")),
      Seq(100L -> ev).toDF("doc_id", "text"), "doc_id", "text", n = 5)
    assert(reflag.filter(col("contaminated")).count() == 0L,
      "a piece may never carry residual eval overlap")
  }

  test("the three views agree on random corpora: flag ⟺ cut>0, and pieces+cuts tile the doc") {
    // seeded random word soup with planted eval spans — the laws binding
    // the three decontamination views to ONE semantics:
    //   contaminated(doc) ⟺ n_cut(doc) > 0           (flag vs excise)
    //   Σ piece n_tokens == n_tokens − n_cut          (pieces vs excise)
    //   n_overlap ≤ n_shingles                        (internal sanity)
    val rnd = new scala.util.Random(97)
    def soup(len: Int) = Seq.fill(len)(s"w${rnd.nextInt(40)}").mkString(" ")
    val ev = (1 to 4).map(i => (100L + i) -> soup(12))
    val train = (1 to 60).map { i =>
      val base = soup(6 + rnd.nextInt(20))
      // every 5th doc gets a verbatim eval span spliced mid-text
      val text = if (i % 5 == 0) {
        val evTxt = ev(rnd.nextInt(ev.size))._2
        base.split(' ').take(4).mkString(" ") + " " + evTxt + " " + base
      } else base
      i.toLong -> text
    }
    val n = 5
    val flags = flag(train, ev, n = n)
    val cuts = excise(train, ev, n = n)
    val pieceTok = Decontaminate.excisePieces(
      train.toDF("doc_id", "text"), ev.toDF("doc_id", "text"), "doc_id", "text", n)
      .groupBy(col("doc_id")).agg(org.apache.spark.sql.functions.sum(col("n_tokens")).as("s"))
      .as[(Long, Long)].collect().toMap
    train.foreach { case (id, _) =>
      val (nsh, nov, contaminated) = flags(id)
      val (ntok, ncut, _) = cuts(id)
      assert(nov <= nsh, s"doc $id: overlap $nov > shingles $nsh")
      assert(contaminated == (ncut > 0),
        s"doc $id: flag=$contaminated but n_cut=$ncut — the views diverged")
      assert(pieceTok.getOrElse(id, 0L) == ntok - ncut,
        s"doc $id: pieces ${pieceTok.getOrElse(id, 0L)} ≠ kept ${ntok - ncut}")
    }
    assert(train.count { case (id, _) => flags(id)._3 } >= 10,
      "fixture must actually plant contamination")
  }

  test("duplicate shingles inside one doc count once (per-doc distinct shingling)") {
    val rep = (words(5, "r") + " " + words(5, "r")).trim // repeated 5 tokens
    // tokens: r1..r5 r1..r5 → 6 windows, but distinct 5-grams: the pure
    // r1..r5 window appears twice → counted once
    val got = flag(Seq(1L -> rep), Seq(100L -> words(5, "r")))
    assert(got(1L)._1 == 5L, s"distinct shingles expected 5, got ${got(1L)._1}")
    assert(got(1L)._2 == 1L && got(1L)._3)
  }
}
