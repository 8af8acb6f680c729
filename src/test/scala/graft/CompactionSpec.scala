package graft

import graft.io.Compaction
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.io.Compaction: the plan bins respect the byte target, the
  * rewrite preserves every row exactly, file counts collapse, and
  * in-place overwrite is refused (the atomic-swap contract).
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = GraftBridge.tempDir("compact")

  test("compact collapses a many-small-file directory and preserves rows exactly") {
    val in = tmp() + "/in"; val out = tmp() + "/out"
    val df = (1L to 10000L).map(i => (i, s"v$i", i % 97)).toDF("id", "s", "m")
    df.repartition(40).write.parquet(in)
    val before = spark.read.parquet(in)
      .select(col("_metadata.file_path")).distinct().count()
    assert(before == 40)
    val stats = Compaction.compact(spark, in, out, targetBytes = 1L << 26)
    assert(stats.filesBefore == 40 && stats.rows == 10000)
    assert(stats.filesAfter < 40 && stats.filesAfter <= 2,
      s"64 MB target over ~hundreds of KB must collapse to 1 file-ish, got ${stats.filesAfter}")
    val a = spark.read.parquet(in).collect().map(_.toString).sorted
    val b = spark.read.parquet(out).collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq, "compaction is layout-only: identical multiset of rows")
  }

  test("plan: greedy bins never exceed target by more than one file; all files binned") {
    val in = tmp() + "/in"
    (1L to 5000L).toDF("id").repartition(20).write.parquet(in)
    val target = 20000L
    val plan = Compaction.plan(spark, in, target).collect()
    assert(plan.length == 20, "one plan row per file")
    val byBin = plan.groupBy(_.getAs[Long]("bin")).view.mapValues(_.map(_.getAs[Long]("size")).sum)
    byBin.foreach { case (bin, sz) =>
      val maxFile = plan.filter(_.getAs[Long]("bin") == bin).map(_.getAs[Long]("size")).max
      assert(sz <= target + maxFile, s"bin $bin holds $sz bytes vs target $target")
    }
    assert(byBin.keys.max + 1 >= 1)
  }

  test("refuses to overwrite an existing output directory (atomic-swap contract)") {
    val in = tmp() + "/in"; val out = tmp() + "/out"
    (1L to 100L).toDF("id").repartition(4).write.parquet(in)
    (1L to 5L).toDF("id").write.parquet(out)
    intercept[Exception] {
      Compaction.compact(spark, in, out, targetBytes = 1L << 20)
    }
    // the pre-existing output is untouched
    assert(spark.read.parquet(out).count() == 5)
  }
}
