package graft

import graft.operators.Selection
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed quickselect == local sort-and-index, across ranks, ties,
  * and forced multi-round descent (tiny localLimit). */
class SelectionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // skewed values with heavy duplication and negatives
  private lazy val data = spark.range(5000)
    .select((when(col("id") % 11 === 0, -col("id"))
      .otherwise(col("id") % 97)).cast("double").as("v"))
    .cache()

  /** The k-th smallest (1-based) value, through the rank-of-count entry
    * the catalog uses (a23's median) with a fixed rank. */
  private def kth(df: org.apache.spark.sql.DataFrame, c: String, k: Long,
      buckets: Int, localLimit: Long): Double =
    Selection.kthOfCount(df, c, _ => k, buckets, localLimit)._1

  private lazy val sortedLocal: Array[Double] =
    data.collect().map(_.getDouble(0)).sorted

  test("k-th smallest matches local sort for edge and middle ranks") {
    for (k <- Seq(1L, 2L, 2500L, 4999L, 5000L)) {
      val got = kth(data, "v", k, buckets = 16, localLimit = 100)
      assert(got == sortedLocal(k.toInt - 1), s"rank $k")
    }
  }

  test("multi-round descent (localLimit 10) still exact") {
    val got = kth(data, "v", 3333L, buckets = 8, localLimit = 10)
    assert(got == sortedLocal(3332))
  }

  test("all-equal column resolves without looping forever") {
    val one = spark.range(500).select(lit(42.0).as("v"))
    assert(kth(one, "v", 250L, buckets = 8, localLimit = 50) == 42.0)
  }

  test("dominant-value stall resolves via the three-way split, all three bands") {
    // 9900 of 10000 rows share one value: quantile bounds collapse to it
    // and buckets stop shrinking — the path that must NOT fall back to a
    // rank-sized driver collect
    val dom = spark.range(10000).select(
      when(col("id") < 50, col("id").cast("double") - 100.0)
        .when(col("id") >= 9950, col("id").cast("double"))
        .otherwise(lit(5.0)).as("v"))
    assert(kth(dom, "v", 5000L, buckets = 8, localLimit = 100) == 5.0)
    assert(kth(dom, "v", 25L, buckets = 8, localLimit = 100) == -76.0)
    assert(kth(dom, "v", 9975L, buckets = 8, localLimit = 100) == 9974.0)
  }

  test("rank beyond row count fails loudly") {
    assertThrows[IllegalArgumentException](
      kth(data, "v", 5001L, buckets = 8, localLimit = 100))
  }
}
