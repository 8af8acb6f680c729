package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.PhraseSearch

/** Laws for exact phrase search. The t67 gate hashes it against the
  * oracle; these pin overlap semantics and the edges.
  */
class PhraseSearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "a a a b"),       // overlapping "a a": starts 1, 2
    (2L, "a b a b a"),     // "a b" at 1, 3; "b a" at 2, 4
    (3L, "b b b"),         // no "a a"
    (4L, "a"),             // shorter than the phrase
    (5L, "x a a x a a")    // two disjoint hits: 2, 5
  ).toDF("id", "text")

  private def run(f: => org.apache.spark.sql.DataFrame) =
    f.as[(Long, Seq[Long], Long, Boolean)].collect().sortBy(_._1).toSeq

  test("overlapping occurrences, zero-hit docs kept, short docs safe") {
    val got = run(PhraseSearch.occurrences(docs, "id", "text", Seq("a", "a")))
    assert(got == Seq(
      (1L, Seq(1L, 2L), 2L, true),
      (2L, Seq.empty[Long], 0L, false),
      (3L, Seq.empty[Long], 0L, false),
      (4L, Seq.empty[Long], 0L, false),
      (5L, Seq(2L, 5L), 2L, true)))
  }

  test("single-word phrase is positional grep; empty phrase refuses") {
    val got = run(PhraseSearch.occurrences(docs, "id", "text", Seq("b")))
    assert(got.find(_._1 == 2L).get._2 == Seq(2L, 4L))
    assert(got.find(_._1 == 3L).get._2 == Seq(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      PhraseSearch.occurrences(docs, "id", "text", Seq.empty)
    }
  }
}
