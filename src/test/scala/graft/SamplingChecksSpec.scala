package graft

import graft.functions.Sampling
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sampling determinism and rate pins. */
class SamplingChecksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = (1L to 4000L).map(i =>
    (i, if (i % 4 == 0) "code" else "web")).toDF("id", "source")

  test("sampling is deterministic and hits the requested rate") {
    val a = Sampling.sample(corpus, 0.25, seed = 7, col("id"))
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.sample(corpus, 0.25, seed = 7, col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "same seed must keep the same rows")
    assert(math.abs(a.size - 1000) < 100, s"rate off: ${a.size}/4000 at 0.25")
    val other = Sampling.sample(corpus, 0.25, seed = 8, col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(a != other, "different seed must select differently")
  }

  test("stratified sampling applies per-stratum rates; unknown strata drop") {
    val out = Sampling.stratifiedSample(
      corpus, col("source"), Map("web" -> 0.1, "other" -> 1.0), seed = 7, col("id"))
      .groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!out.contains("code"), "stratum without a rate is dropped")
    assert(math.abs(out("web") - 300) < 80, s"web rate off: ${out.get("web")}/3000 at 0.1")
  }

  test("weighted sample: deterministic, scale-invariant, excludes non-positive weights") {
    val weighted = (1L to 2000L).map(i =>
      (i, if (i <= 10) 1000.0 else 1.0)).toDF("id", "w")
    def draw(df: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(df, k = 100, seed = 7, weight = col("w"), col("id"))
        .collect().map(_.getLong(0)).toSet
    val a = draw(weighted)
    assert(a == draw(weighted), "same seed must draw the same sample")
    assert(a.size == 100)
    // A-ES keys transform monotonically under weight scaling (x -> x^(1/c)),
    // so multiplying every weight by a constant cannot change the sample
    val scaled = weighted.withColumn("w", col("w") * 1000.0)
    assert(draw(scaled) == a, "weight-scale invariance")
    // 1000x-weighted rows must dominate a 100-of-2000 sample
    assert((1L to 10L).toSet.subsetOf(a), "all heavy rows selected")
    // zero/negative weights are excluded by contract
    val withBad = weighted.withColumn("w",
      when(col("id") === 1L, -5.0).when(col("id") === 2L, 0.0).otherwise(col("w")))
    val b = draw(withBad)
    assert(!b.contains(1L) && !b.contains(2L), "non-positive weights never sampled")
  }
}
