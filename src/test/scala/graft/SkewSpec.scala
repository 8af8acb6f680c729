package graft

import graft.transforms.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salting must never change results — only the shuffle layout. Each helper
  * is checked against its unsalted equivalent on a skewed corpus (one key
  * holding ~90% of rows). */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val skewed = {
    val hot = (1 to 900).map(i => ("hot", i.toLong))
    val cold = (1 to 100).map(i => (s"k${i % 10}", i.toLong))
    (hot ++ cold).toDF("k", "v")
  }

  test("saltedJoin == plain inner join") {
    val dim = Seq(("hot", "HOT"), ("k1", "K1"), ("k2", "K2")).toDF("dk", "label")
    val plain = skewed.join(dim, skewed("k") === dim("dk"))
      .select("k", "v", "dk", "label")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(skewed, dim, skewed("k"), dim("dk"), salts = 8)
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("salt is deterministic across evaluations (retry-safe)") {
    val s1 = skewed.select(Skew.salt(16, col("k"), col("v")).as("s")).collect().map(_.getInt(0)).toSeq
    val s2 = skewed.select(Skew.salt(16, col("k"), col("v")).as("s")).collect().map(_.getInt(0)).toSeq
    assert(s1 == s2)
    assert(s1.distinct.size > 1, "salts must actually spread")
  }
}
