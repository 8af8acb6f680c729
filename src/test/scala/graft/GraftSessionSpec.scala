package graft

import graft.engine.{Codegen, GraftSession}
import org.scalatest.funsuite.AnyFunSuite

/** The session's engine-level settings take effect: the codegen class cache
  * really has the builder's cap (Spark sizes it once per JVM, from whatever
  * conf is current at its first use), a warm loop larger than Spark's
  * default 100 entries stops recompiling, and the scratch-dir guard fails
  * loudly on a malformed bound.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("codegen cache: a 150-plan cycle compiles once, its second pass hits the cache") {
    spark // the session is built, so the builder has sized the cache
    assert(Codegen.cacheMaxEntries().contains(GraftSession.CodegenCacheMaxEntries.toLong))
    // Each plan inlines its own literals into its generated code, so the
    // cycle holds 150 structurally distinct compile units; the salt keeps
    // them apart from anything another suite compiled.
    val salt = System.nanoTime() % 1000000007L
    def cycle(): Long = {
      val before = Codegen.count()
      (1 to 150).foreach { i =>
        val rows = spark.range(4).selectExpr(s"id * $i + $salt AS v").collect()
        assert(rows.map(_.getLong(0)).toSeq == (0L until 4L).map(_ * i + salt))
      }
      (Codegen.count() - before).compiles
    }
    val first = cycle()
    val second = cycle()
    assert(first >= 150, s"the cycle should compile each distinct plan once, compiled $first")
    assert(second <= 5, s"second cycle recompiled $second units (first: $first)")
  }

  test("codegen cache: a cleared cache compiles a cached plan again") {
    val salt = System.nanoTime() % 1000000007L
    def compiles(): Long = {
      val before = Codegen.count()
      assert(spark.range(4).selectExpr(s"id + $salt AS v").collect().length == 4)
      (Codegen.count() - before).compiles
    }
    assert(compiles() >= 1)
    assert(compiles() == 0, "control: the second run hits the cache")
    Codegen.clearCache()
    assert(compiles() >= 1)
  }

  test("scratch dir: malformed SPARK_GRAFT_SHM_MIN_FREE_GB fails naming the variable") {
    for (bad <- Seq("16g", "", "-1", "1.5")) {
      val e = intercept[IllegalArgumentException] {
        GraftSession.scratchDir(Map("SPARK_GRAFT_SHM_MIN_FREE_GB" -> bad).get)
      }
      assert(e.getMessage.contains("SPARK_GRAFT_SHM_MIN_FREE_GB"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("scratch dir: the choice comes with its reason") {
    val tmp = java.nio.file.Files.createTempDirectory("shm").toFile
    val (tmpfs, why) = GraftSession.scratchDir(Map("SPARK_GRAFT_SHM_MIN_FREE_GB" -> "0").get, tmp)
    assert(tmpfs == s"$tmp/graft_scratch")
    assert(why.startsWith("tmpfs: ") && why.contains("vs the 0 GiB guard"), why)
    val (disk, whyDisk) = GraftSession.scratchDir(
      Map("SPARK_GRAFT_SHM_MIN_FREE_GB" -> Long.MaxValue.toString).get, tmp)
    assert(disk == sys.props("java.io.tmpdir"))
    assert(whyDisk.startsWith("disk: "), whyDisk)
    assert(GraftSession.scratchDir(Map("SPARK_GRAFT_LOCAL_DIR" -> "/x").get) ==
      ("/x", "SPARK_GRAFT_LOCAL_DIR"))
  }

  test("sizing: SPARK_GRAFT_CPUS and SPARK_GRAFT_SHUFFLE_PARTITIONS parse as positive ints") {
    assert(GraftSession.sizing(Map.empty[String, String].get) == GraftSession.Sizing(32, 32))
    assert(GraftSession.sizing(Map("SPARK_GRAFT_CPUS" -> " 4 ").get) == GraftSession.Sizing(4, 4))
    assert(GraftSession.sizing(Map("SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "64").get) == GraftSession.Sizing(4, 64))
    for (name <- Seq("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS");
         bad <- Seq("0", "-2", "", "four", "1.5", "4g", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.sizing(Map(name -> bad).get))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
