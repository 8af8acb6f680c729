package graft

import graft.io.Layout
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout-level scale proofs: bucketing deletes the join shuffle entirely,
  * and directory partitioning prunes at planning time. These are the two
  * write-once-shuffle-never levers for 100 TB fact tables. */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed co-located join plans with zero Exchange") {
    val facts = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val dims = (1 to 200).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    Layout.writeBucketed(facts, "graft_bucket_facts", "k", 4, sortCol = Some("k"))
    Layout.writeBucketed(dims, "graft_bucket_dims", "k", 4, sortCol = Some("k"))
    // force the shuffle-based join path so the assertion is about bucketing,
    // not about the broadcast threshold
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val joined = spark.table("graft_bucket_facts")
        .join(spark.table("graft_bucket_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      assert(joined.count() == 200)
    }
  }

  test("colocatedJoin: mismatched bucket counts fall back to a correct (shuffling) join") {
    val facts = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
    val dims = (1 to 200).map(i => (i.toLong, s"d$i")).toDF("dk", "name")
    // writeBucketed now clears the stale catalog entry AND the surviving
    // warehouse location itself (the j25 fresh-JVM crash), so no manual
    // cleanup here — this test doubles as the re-run-safety check.
    Layout.writeBucketed(facts, "graft_bucket_f16", "k", 16, sortCol = Some("k"))
    Layout.writeBucketed(dims, "graft_bucket_d4", "dk", 4, sortCol = Some("dk"))
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val j = Layout.colocatedJoin(spark,
        "graft_bucket_f16", "graft_bucket_d4", "k", "dk")
      assert(j.count() == 200, "bucket-count mismatch must degrade, never corrupt")
    }
    // and a same-session re-write over the existing layout succeeds
    Layout.writeBucketed(facts, "graft_bucket_f16", "k", 16, sortCol = Some("k"))
    assert(spark.table("graft_bucket_f16").count() == 1000)
  }

  test("s8 gate query: source filter resolves as PartitionFilters, not a data filter") {
    val df = SparkEntry.queries("s8_partition_pruned_scan")(spark, TestSpark.sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*source".r.findFirstIn(p).isDefined,
      s"the IN filter must prune partition directories at planning time:\n$p")
    assert(!"PushedFilters: \\[[^\\]]*source".r.findFirstIn(p).isDefined,
      s"the partition-column filter must not fall through to the row scan:\n$p")
  }

  test("partition pruning: equality filter reads only its directory") {
    val dir = s"${GraftBridge.tempDir("graft_part_test")}/t"
    val df = Seq(("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "b"), ("2024-01-03", 3L, "c"))
      .toDF("day", "id", "payload")
    Layout.writePartitioned(df, dir, Seq("day"))
    val read = spark.read.parquet(dir).filter(col("day") === "2024-01-02")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"partition filter must prune at the scan:\n$plan")
    assert(read.collect().map(_.getAs[Long]("id")).toSeq == Seq(2L))
  }

  test("zValue: spread/compact are inverses; interleave splits back exactly") {
    val probes = Seq(0L, 1L, 2L, 3L, 12345L, 0x7FFFFFFFL, 0xFFFFFFFFL)
    for (a <- probes; b <- probes) {
      val z = graft.functions.expr.ZValue.interleave(a, b)
      assert(graft.functions.expr.ZValue.compact(z) == (a & 0x7FFFFFFFL))
      assert(graft.functions.expr.ZValue.compact(z >> 1) == (b & 0x7FFFFFFFL))
      assert(z >= 0L, "31-bit inputs keep the key non-negative")
    }
  }

  test("zValue ordering narrows BOTH columns' per-chunk envelopes (data skipping)") {
    // 4096 points on a 64×64 grid in row-major order: a row-major sort gives
    // chunks the FULL y range; z-order must shrink the average y envelope
    // while keeping x's envelope narrow too — the multi-dim skipping claim.
    val pts = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    def avgEnvelope(sorted: Seq[(Long, Long)]): (Double, Double) = {
      val chunks = sorted.grouped(256).toSeq // 16 "files"
      def span(ps: Seq[Long]) = (ps.max - ps.min).toDouble
      (chunks.map(c => span(c.map(_._1))).sum / chunks.size,
        chunks.map(c => span(c.map(_._2))).sum / chunks.size)
    }
    val (rx, ry) = avgEnvelope(pts.sortBy(p => (p._1, p._2)))
    val (zx, zy) = avgEnvelope(pts.sortBy(p =>
      graft.functions.expr.ZValue.interleave(p._1, p._2)))
    assert(ry == 63.0, "row-major chunks span the whole second dimension")
    assert(zx <= 16 && zy <= 16,
      s"z-order chunks must bound both dims (got x=$zx y=$zy vs row-major y=$ry)")
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // The 100 TB star-join lever static pruning can't reach: the fact-side
    // partition filter is only knowable AFTER the dim filter runs, so Spark
    // injects a runtime `dynamicpruning` subquery on the partition column.
    val root = GraftBridge.tempDir("graft_dpp")
    val (dir, dimDir) = (s"$root/fact", s"$root/dim")
    val fact = (0L until 10000L).map(i => (i, i % 8, i * 1.5)).toDF("id", "part_key", "v")
    Layout.writePartitioned(fact, dir, Seq("part_key"))
    // The dim must be a real scan: a literal Seq would constant-fold its
    // filter into a LocalRelation, and with no surviving selective
    // predicate the PartitionPruning rule (correctly) stands down.
    (0L until 8L).map(k => (k, if (k == 3L) "keep" else "drop"))
      .toDF("part_key", "tag").write.mode("overwrite").parquet(dimDir)
    val joined = withConf("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true") {
      val j = spark.read.parquet(dir)
        .join(spark.read.parquet(dimDir).filter(col("tag") === "keep"), Seq("part_key"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"fact scan must carry a runtime partition-pruning subquery:\n$plan")
      j
    }
    assert(joined.count() == 1250L)
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
