package graft

import graft.functions.expr.ZValue
import graft.io.Layout
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The k-column z-order generalization (expr.ZValue.zValueN /
  * Layout.writeZOrderedN) — complements LayoutSpec, which pins the
  * 2-column codegen'd ZValue and PLANNING-time pruning via the file
  * stats index. Here: interleave inversion for 2 and 3 dimensions, the
  * grid-normalization clamp law, and READER-level pruning measured from
  * the scan's own metrics — parquet row-group min/max statistics alone
  * (no stats index, no planner help) cut a box predicate's scanned rows
  * to a fraction of the identical scan over a random layout. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def deinterleave(z: Long, n: Int, bits: Int): Seq[Long] =
    (0 until n).map { i =>
      (0 until bits).map(b => ((z >> (b * n + i)) & 1L) << b).sum
    }

  test("zValueN interleave is invertible for 2 and 3 columns") {
    val df = spark.range(2000).select(
      (col("id") * 2654435761L % 1024).as("a"),
      (col("id") * 40503 % 1024).as("b"),
      (col("id") % 1024).as("c"))
    val rows2 = df.withColumn("z", ZValue.zValueN(Seq(col("a"), col("b")), 10))
      .collect()
    rows2.foreach { r =>
      assert(deinterleave(r.getLong(3), 2, 10) == Seq(r.getLong(0), r.getLong(1)))
    }
    val rows3 = df.withColumn("z", ZValue.zValueN(Seq(col("a"), col("b"), col("c")), 10))
      .collect()
    rows3.foreach { r =>
      assert(deinterleave(r.getLong(3), 3, 10) ==
        Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  test("zValueN (2 cols, 31 bits) agrees with the codegen'd magic-mask ZValue fast path") {
    val df = spark.range(5000).select(
      (col("id") * 2654435761L % 2147483647L).as("a"),
      (col("id") * 40503 % 2147483647L).as("b"))
    val n = df.filter(
      ZValue.zValueN(Seq(col("a"), col("b")), 31) =!=
        ZValue.zValue(col("a"), col("b"))).count()
    assert(n == 0, "the two formulations must be bit-identical")
  }

  test("box predicate over a z-ordered layout prunes row groups; random layout scans everything") {
    val n = 200000L
    // two independent uniform dimensions
    val data = spark.range(n).select(
      (col("id") * 2654435761L % 1024).cast("long").as("x"),
      (col("id") * 40503 % 1024).cast("long").as("y"))
    val dir = GraftBridge.tempDir("graft_zorder")
    val zPath = s"$dir/clustered"
    val rPath = s"$dir/random"
    Layout.writeZOrderedN(data, zPath, Seq("x", "y"), bits = 10, numFiles = 32)
    // counterfactual: same rows, random order, same file count
    data.repartition(32, col("x") * 0 + rand(seed = 7) * 32)
      .write.mode("overwrite").parquet(rPath)

    def scannedRows(path: String): Long = {
      val q = spark.read.parquet(path)
        .filter(col("x") >= 100 && col("x") < 164 && col("y") >= 200 && col("y") < 264)
      q.collect()
      val exec = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = exec.collectLeaves().collectFirst { case s: FileSourceScanExec => s }
        .getOrElse(fail("no FileSourceScanExec leaf"))
      scan.metrics("numOutputRows").value
    }

    val zScanned = scannedRows(zPath)
    val rScanned = scannedRows(rPath)
    // identical answers first
    val expect = data
      .filter(col("x") >= 100 && col("x") < 164 && col("y") >= 200 && col("y") < 264)
      .count()
    assert(spark.read.parquet(zPath)
      .filter(col("x") >= 100 && col("x") < 164 && col("y") >= 200 && col("y") < 264)
      .count() == expect)
    // the random layout's row groups all span the full domain → nothing
    // prunes; the z-ordered layout confines the box to a few groups. The
    // 4× bar is deliberately loose (row-group size and page stats vary by
    // parquet defaults) — the observed gap is far larger.
    assert(rScanned >= n / 2,
      s"random layout should scan most rows, scanned $rScanned of $n")
    assert(zScanned * 4 <= rScanned,
      s"z-ordered layout should scan ≤ 1/4 of the random layout's rows " +
        s"(z=$zScanned vs random=$rScanned)")
  }
}
