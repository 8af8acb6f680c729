package graft

import graft.io.Tables
import graft.operators.BloomPrefilter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.operators.BloomPrefilter: the runtime-filter semi join must be
  * bit-identical to the plain join (the sketch may only ADD candidate rows
  * that the exact join then removes), must never drop a true match (no
  * false negatives by construction), must actually prune, and must not add
  * a shuffle. */
class BloomPrefilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sfDir

  private lazy val li = Tables.load(spark, dir, "lineitem")
  private lazy val hi = Tables.load(spark, dir, "orders")
    .filter(col("o_totalprice") > 400000).select(col("o_orderkey"))

  test("bloom-prefiltered semi join == plain semi join, bit for bit") {
    val bloomed = BloomPrefilter
      .semiJoin(li, "l_orderkey", hi, "o_orderkey", expectedItems = 1 << 14)
      .groupBy("l_orderkey").count()
    val plain = li
      .join(hi, li("l_orderkey") === hi("o_orderkey"), "left_semi")
      .groupBy("l_orderkey").count()
    val a = bloomed.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = plain.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("no false negatives: every dimension key passes its own sketch") {
    val bytes = BloomPrefilter.build(hi, "o_orderkey", expectedItems = 1 << 14, fpp = 0.01)
    val total = hi.count()
    val kept = BloomPrefilter.filterMightContain(hi, "o_orderkey", bytes).count()
    assert(kept == total, "a Bloom filter cannot reject an inserted key")
  }

  test("byte-identical probes compare equal (semanticEquals / reuse-friendly)") {
    val bytes = BloomPrefilter.build(hi, "o_orderkey", expectedItems = 1 << 14, fpp = 0.01)
    val copy = bytes.clone() // distinct array instance, same contents
    val key = org.apache.spark.sql.catalyst.expressions.Literal(7L)
    val ea = graft.functions.expr.BloomMightContainLong(key, bytes)
    val eb = graft.functions.expr.BloomMightContainLong(key, copy)
    assert(ea == eb && ea.hashCode == eb.hashCode,
      "value equality on the sketch bytes, not reference equality")
  }

  test("prefilter prunes: a 1-key dim drops ~all fact rows before the join") {
    val oneKey = Seq(7L).toDF("k")
    val bytes = BloomPrefilter.build(oneKey, "k", expectedItems = 1024, fpp = 0.001)
    val factRows = li.count()
    val kept = BloomPrefilter.filterMightContain(li, "l_orderkey", bytes).count()
    val trueMatches = li.filter(col("l_orderkey") === 7L).count()
    // survivors = true matches + false positives (≤ ~0.1% of the fact side,
    // generously bounded at 5% to keep the test noise-proof)
    assert(kept >= trueMatches)
    assert(kept <= trueMatches + (factRows * 5) / 100)
  }

  test("semiJoin rejects non-integral keys instead of silently casting") {
    val strDim = Seq("7", "x").toDF("k")
    val e = intercept[IllegalArgumentException] {
      BloomPrefilter.semiJoin(li, "l_orderkey", strDim, "k", expectedItems = 16)
    }
    assert(e.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException] {
      BloomPrefilter.semiJoin(li.withColumn("lk", col("l_orderkey").cast("string")),
        "lk", hi, "o_orderkey", expectedItems = 16)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("prefilter adds a Filter, not an Exchange") {
    val bloomed = BloomPrefilter
      .semiJoin(li, "l_orderkey", hi, "o_orderkey", expectedItems = 1 << 14)
    val plain = li.join(hi, li("l_orderkey") === hi("o_orderkey"), "left_semi")
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString.linesIterator
        .count(_.contains("Exchange"))
    assert(bloomed.queryExecution.executedPlan.toString
      .toLowerCase.contains("bloommightcontainlong"),
      "the probe must survive optimization as a real filter")
    assert(exchanges(bloomed) <= exchanges(plain),
      "the runtime filter must not introduce shuffles")
  }
}
