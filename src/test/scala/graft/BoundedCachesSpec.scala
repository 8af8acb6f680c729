package graft

import graft.engine.BoundedCaches
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A frame persisted through [[BoundedCaches.persist]] comes back re-rooted
  * on its cache entry. The cached plan of an ORDERED frame carries an
  * output ordering, and the re-rooted leaf must carry it on its own
  * attributes: otherwise canonicalizing any plan over it (cache lookup,
  * `sameResult`, reuse) fails with `key not found`.
  */
class BoundedCachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("re-rooted ordered frame: self-join, sameResult and results intact") {
    val ordered = spark.range(0, 200, 1, 4)
      .select((col("id") % 7).as("k"), col("id").as("v"))
      .repartition(4, col("k")).sortWithinPartitions("k", "v")
    try {
      val a = BoundedCaches.persist(ordered)
      // the already-live path: re-rooted again on the same entry
      val b = BoundedCaches.persist(ordered)
      assert(a.queryExecution.analyzed.isInstanceOf[InMemoryRelation])
      assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
      def selfJoin() =
        a.as("x").join(b.as("y"), col("x.k") === col("y.k") && col("x.v") === col("y.v"))
      assert(selfJoin().queryExecution.optimizedPlan.sameResult(
        selfJoin().queryExecution.optimizedPlan))
      assert(selfJoin().count() == 200)
      assert(a.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        (0L until 200L).map(i => (i % 7, i)).toSet)
    } finally BoundedCaches.releaseAll()
  }

  test("SPARK_GRAFT_MAXLIVE: default 6, whole numbers >= 0, malformed fails naming the variable") {
    assert(BoundedCaches.maxLive(Map.empty[String, String].get) == 6)
    assert(BoundedCaches.maxLive(Map("SPARK_GRAFT_MAXLIVE" -> " 9 ").get) == 9)
    assert(BoundedCaches.maxLive(Map("SPARK_GRAFT_MAXLIVE" -> "0").get) == 0)
    for (bad <- Seq("six", "", "-1", "1.5", "99999999999")) {
      val e = intercept[IllegalArgumentException] {
        BoundedCaches.maxLive(Map("SPARK_GRAFT_MAXLIVE" -> bad).get)
      }
      assert(e.getMessage.contains("SPARK_GRAFT_MAXLIVE"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
