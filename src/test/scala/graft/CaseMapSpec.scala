package graft

import graft.transforms.Text
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** `Text.lower`/`Text.upper` against Spark's `lower`/`upper` with ICU case
  * mapping on (Spark's default), row for row and byte for byte, on
  * generated strings that mix ASCII with the letters whose mapping is not
  * byte-wise: Italian accents, dotted and dotless I, sharp s, Greek sigma
  * (final in context), supplementary-plane letters and NBSP; and on
  * arbitrary bytes cast to a string, so invalid UTF-8 too. */
class CaseMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Rounds = 5

  private def samples[A](gen: Gen[A], round: Int): A =
    gen.pureApply(Gen.Parameters.default, Seed(42L + round))

  private val pieces = Seq(
    "a", "Z", "q ", "0", "-", "à", "È", "é", "ì", "Ò", "ù", "Perché", "CITTÀ",
    "İ", "ı", "I", "i", "ß", "ẞ", "Σ", "σ", "ς", "ΟΔΟΣ ", "ǅ", "ﬁ", "ŉ",
    "\u00a0", "𐐀", "𐐨", "😀")

  /** Any code point from the space up to plane 1, bar the surrogates. */
  private val codePoint: Gen[Int] =
    Gen.oneOf(Gen.choose(0x20, 0xd7ff), Gen.choose(0xe000, 0x1ffff))

  private val text: Gen[String] = Gen.oneOf(
    Gen.listOf(Gen.oneOf(pieces)).map(_.mkString),
    Gen.alphaNumStr,
    Gen.listOf(codePoint).map(cps => new String(cps.toArray, 0, cps.length)),
    Gen.const(""))

  /** The rows of `df.s` where ours and Spark's differ, as (input, Spark,
    * ours) in hex, for the failure message. */
  private def mismatches(df: DataFrame): Seq[(String, String, String)] = {
    val s = col("s")
    Seq(lower(s) -> Text.lower(s), upper(s) -> Text.upper(s)).flatMap { case (a, b) =>
      df.filter(!(a <=> b))
        .select(hex(s.cast("binary")), hex(a.cast("binary")), hex(b.cast("binary")))
        .as[(String, String, String)].collect().toSeq
    }
  }

  test("ICU case mapping is on, as Spark ships it") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true")
  }

  test("Text.lower/upper == Spark's lower/upper on generated text") {
    (1 to Rounds).foreach { round =>
      val df = (samples(Gen.listOfN(200, text), round) ++ pieces :+ null).toDF("s")
      assert(mismatches(df).isEmpty, s"round $round")
    }
  }

  test("the cases that are not byte-wise map as ICU maps them") {
    def both(s: String): (String, String) =
      Seq(s).toDF("s").select(Text.lower(col("s")), Text.upper(col("s")))
        .as[(String, String)].head()
    assert(both("CITTÀ Perché") == ("città perché", "CITTÀ PERCHÉ"))
    assert(both("İ")._1 == "i̇", "dotted capital I lowercases to i + combining dot")
    assert(both("ı")._2 == "I")
    assert(both("straße")._2 == "STRASSE", "sharp s uppercases to two letters")
    assert(both("ΟΔΟΣ")._1 == "οδος", "final sigma in context")
    assert(both("𐐀")._1 == "𐐨", "a supplementary-plane letter")
    assert(both("a\u00a0B") == ("a\u00a0b", "A\u00a0B"), "NBSP passes through")
    val nulls = Seq(null: String).toDF("s")
      .select(Text.lower(col("s")), Text.upper(col("s"))).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("Text.lower/upper == Spark's lower/upper on arbitrary bytes cast to a string") {
    val bytes = Gen.listOf(Gen.frequency(
      3 -> Gen.choose(0x20, 0x7e), 2 -> Gen.choose(0x80, 0xff),
      1 -> Gen.oneOf(0xc3, 0xe2, 0xed, 0xf0, 0xc0)))
    val fixed = Seq("C3", "FF", "E282", "EDA080", "C0AF", "41C3A9", "F09F98", "C3A9FF41")
    (1 to Rounds).foreach { round =>
      val hexes = samples(Gen.listOfN(200, bytes), round)
        .map(_.map(b => f"$b%02X").mkString) ++ fixed
      val df = hexes.toDF("h").select(unhex(col("h")).cast("string").as("s"))
      assert(df.filter(!(lower(col("s")) <=> col("s"))).count() > 0, "nothing to map")
      assert(mismatches(df).isEmpty, s"round $round")
    }
  }

  test("a string of another collation fails at analysis") {
    val e = intercept[AnalysisException](
      Seq("A").toDF("s").select(Text.lower(collate(col("s"), "UTF8_LCASE"))).collect())
    assert(e.getMessage.contains("UTF8_BINARY"), e.getMessage)
  }
}
