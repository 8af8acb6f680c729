package graft

import graft.engine.{Codegen, GraftSession}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session's engine-level settings take effect: the codegen class cache
  * really has the builder's cap (Spark sizes it once per JVM, from whatever
  * conf is current at its first use), a warm loop larger than Spark's
  * default 100 entries stops recompiling, the scratch-dir choice comes
  * with its reason, the startup line names the `file://`
  * FileSystem in effect, and the context's Hadoop configuration holds no
  * entry only Hadoop's bundled defaults set, before or after Spark's
  * file formats have run, while what the SparkConf, graft and a site file
  * set is kept (`core-site.xml` on the test classpath).
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

  test("scratch dir: the choice comes with its reason") {
    val tmp = new java.io.File(GraftBridge.tempDir("shm"))
    val none: String => Option[String] = _ => None
    val (tmpfs, why) = GraftSession.scratchDir(none, tmp, minFreeGiB = 0L)
    assert(tmpfs == s"$tmp/graft_scratch")
    assert(why.startsWith("tmpfs: ") && why.contains("vs the 0 GiB guard"), why)
    val (disk, whyDisk) = GraftSession.scratchDir(none, tmp, minFreeGiB = Long.MaxValue)
    assert(disk == sys.props("java.io.tmpdir"))
    assert(whyDisk.startsWith("disk: "), whyDisk)
    assert(GraftSession.scratchDir(none, tmp)._2.contains("vs the 16 GiB guard"),
      "the default guard is 16 GiB")
    assert(GraftSession.scratchDir(Map("SPARK_GRAFT_LOCAL_DIR" -> "/x").get) ==
      ("/x", "SPARK_GRAFT_LOCAL_DIR"))
  }

  test("warehouse: SPARK_GRAFT_WAREHOUSE verbatim, else a per-JVM directory under java.io.tmpdir") {
    assert(GraftSession.warehouseDir(Map("SPARK_GRAFT_WAREHOUSE" -> "/x/wh").get) == "/x/wh")
    val tmp = new java.io.File(sys.props("java.io.tmpdir")).getCanonicalPath
    val a = GraftSession.warehouseDir(Map.empty[String, String].get)
    val b = GraftSession.warehouseDir(Map.empty[String, String].get)
    assert(a != b, "each call picks a fresh directory")
    for (d <- Seq(a, b)) {
      val f = new java.io.File(d)
      assert(f.isDirectory && f.getName.startsWith("graft_warehouse"), d)
      assert(f.getParentFile.getCanonicalPath == tmp, d)
      assert(org.apache.spark.TestBridge.deletedAtExit(d))
    }
  }

  test("file://: graft's FileSystem unless the SparkConf names one; the note names the class in effect") {
    spark // a GraftSession has cached this JVM's file:// FileSystem
    val ours = classOf[graft.io.LocalFileSystem].getName
    assert(GraftSession.fileSystem(None) ==
      (ours, s"$ours (graft's default: permissions without a forked chmod)"))
    val stock = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    assert(GraftSession.fileSystem(Some(stock)) == (stock,
      s"$ours (requested $stock, but a file:// FileSystem was cached earlier in this JVM)"))
    assert(GraftSession.fileSystem(Some(ours)) ==
      (ours, s"$ours (spark.hadoop.fs.file.impl in the SparkConf)"))
  }

  test("cpus: SPARK_GRAFT_CPUS parses as a positive int, default 32") {
    assert(GraftSession.cpus(Map.empty[String, String].get) == 32)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> " 4 ").get) == 4)
    for (bad <- Seq("0", "-2", "", "four", "1.5", "4g", "99999999999")) {
      val e = intercept[IllegalArgumentException](GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> bad).get))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  /** Keys of `conf` that only Hadoop's bundled `*-default.xml` resources set. */
  private def bundledOnly(conf: Configuration): Seq[String] =
    conf.iterator().asScala.map(_.getKey).filter { k =>
      Option(conf.getPropertySources(k)).exists(_.forall(_.endsWith("-default.xml")))
    }.toSeq.sorted

  test("hadoop conf: the startup line counts the entries kept and the bundled defaults dropped") {
    spark // started, so `start` below gets the same session with the same settings
    val buf = new java.io.ByteArrayOutputStream
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val again = try GraftSession.start("graft-test")(TestSpark.settings) finally System.setErr(err)
    assert(again eq spark)
    val kept = spark.sparkContext.hadoopConfiguration.size
    val lines = buf.toString("UTF-8").linesIterator.filter(_.startsWith("[graft] session 'graft-test': ")).toSeq
    assert(lines.size == 1, buf.toString("UTF-8"))
    assert(lines.head.endsWith(s"; hadoop conf=$kept entries (0 bundled defaults dropped)"), lines.head)
    val cpus = GraftSession.cpus(sys.env.get)
    assert(lines.head.contains(s"; cpus=$cpus, shuffle partitions=$cpus;"), lines.head)
  }

  test("hadoop conf: bundled defaults go; set keys and the defaults their values name stay") {
    val conf = new Configuration()
    val bundled = bundledOnly(conf).size
    assert(bundled > 300, "control: a fresh Configuration loads core-default.xml")
    conf.set("graft.test.set", "${hadoop.tmp.dir}/x")
    val before = conf.size
    val (kept, dropped) = GraftSession.leanHadoopConf(conf)
    assert(kept == conf.size && kept + dropped == before)
    assert(dropped == bundled - 1, "every bundled default but the one a set value names")
    assert(bundledOnly(conf) == Seq("hadoop.tmp.dir"))
    assert(conf.get("graft.test.set") == s"/tmp/hadoop-${sys.props("user.name")}/x")
    assert(conf.get("graft.test.site") == "from-core-site")
    assert(conf.get("fs.defaultFS") == null)
    assert(org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).toString == "file:///")
    assert(GraftSession.leanHadoopConf(conf) == (kept, 0), "a second prune finds nothing")
  }

  test("hadoop conf: still lean after parquet, CSV, ORC and JSON round trips") {
    val dir = GraftBridge.tempDir("hadoop-conf")
    val df = spark.range(20).selectExpr("id", "cast(id * 7 AS string) AS s")
    for (fmt <- Seq("parquet", "csv", "orc", "json")) {
      df.write.format(fmt).save(s"$dir/$fmt")
      val back = spark.read.format(fmt).schema(df.schema).load(s"$dir/$fmt")
      assert(back.orderBy("id").collect().toSeq == df.collect().toSeq, fmt)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    assert(bundledOnly(conf).isEmpty, "bundled defaults back in the context's Hadoop conf")
    val derived = spark.sessionState.newHadoopConf().size
    assert(derived <= 64, s"a per-query Hadoop conf has $derived entries")
  }

  test("hadoop conf: spark.hadoop.* keys, fs.file.impl and site-file keys keep their values") {
    val sc = spark.sparkContext
    for (conf <- Seq(sc.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(conf.get("graft.test.conf") == "from-sparkconf")
      assert(conf.get("fs.file.impl") == sc.getConf.get(GraftSession.FileImplKey))
      assert(conf.get("graft.test.site") == "from-core-site")
      assert(conf.get("hadoop.security.authentication") == "simple")
    }
  }
}
