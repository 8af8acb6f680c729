package graft

import graft.engine.GraftSession
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (Spark startup is ~5 s;
  * per-suite sessions would dominate test time). It starts through
  * `GraftSession.start`, as `GraftSession.local` does, so specs run on the
  * lean Hadoop configuration the mains get, and the engine's per-JVM
  * warehouse (`GraftSession.warehouseDir`), so two test JVMs share no
  * table location. `spark.hadoop.graft.test.conf` is a SparkConf Hadoop
  * key for `GraftSessionSpec` to find kept. */
object TestSpark {
  /** Smoke-tier test corpus (TESTDATA.md). */
  val sfDir = "/root/testdata/sf0.001"

  /** The test session's settings over the engine's, for `GraftSession.start`. */
  val settings: SparkSession.Builder => SparkSession.Builder = _
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.hadoop.graft.test.conf", "from-sparkconf")

  lazy val spark: SparkSession = {
    val s = GraftSession.start("graft-test")(settings)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
