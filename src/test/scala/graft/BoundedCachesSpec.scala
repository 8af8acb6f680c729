package graft

import graft.engine.BoundedCaches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** A frame persisted through [[BoundedCaches.persist]] comes back re-rooted
  * on its cache entry. The cached plan of an ORDERED frame carries an
  * output ordering, and the re-rooted leaf must carry it on its own
  * attributes: otherwise canonicalizing any plan over it (cache lookup,
  * `sameResult`, reuse) fails with `key not found`. A query whose
  * registered frames are released between construction and its action
  * still returns its rows.
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

  /** Sorted-row digest of `df`'s result. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  private def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("evicted frames: t89 and t94 released between construction and action give the same rows") {
    for (name <- Seq("t89_trigram_kn_perplexity", "t94_corpus_to_batches")) {
      val query = SparkEntry.queries(name)
      try {
        val expected = digest(query(spark, TestSpark.sfDir))
        BoundedCaches.releaseAll()
        // control: a normal run's registered frames all go with releaseAll
        val before = persistentRdds
        val again = digest(query(spark, TestSpark.sfDir))
        BoundedCaches.releaseAll()
        assert(again == expected)
        assert((persistentRdds -- before).isEmpty, s"$name: control left persisted RDDs")
        val built = query(spark, TestSpark.sfDir)
        BoundedCaches.releaseAll()
        assert(digest(built) == expected, s"$name: rows changed once its frames were evicted")
        BoundedCaches.releaseAll()
        val left = (persistentRdds -- before).toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_).name)
        info(s"$name: ${left.size} persisted RDDs left that no registered frame owns: ${left.mkString(", ")}")
      } finally BoundedCaches.releaseAll()
    }
  }
}
