package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.io.{ParquetSource, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the events.ts lowering for BOTH physical layouts the corpus
  * generator has produced (the r7 testdata regeneration changed the layout
  * under a running round — this spec is the canary that makes the next
  * drift a named failure instead of nine silently-vanished queries), and
  * the job-free source resolution [[ParquetSource]] gives `load`, and the
  * declared schemas give the migration's seed CSVs: the schema Spark
  * would infer, and no Spark job to get it. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    GraftBridge.tempDir(prefix)

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** The footer schema equals the one Spark's own inference gives. */
  private def assertSparkSchema(path: String): StructType = {
    val inferred = spark.read.parquet(path).schema
    assert(ParquetSource.footerSchema(spark, path).contains(inferred), path)
    assert(ParquetSource.read(spark, path).schema == inferred, path)
    inferred
  }

  /** A plain parquet file written without Spark, with an int64
    * TIMESTAMP(NANOS) column: the layout `nanosAsLong` exists for. */
  private def writeNanosEvents(dir: String, ns: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional binary event_type (STRING);
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", ns).append("event_type", "click"))
    finally w.close()
  }

  test("nanosecond epoch longs truncate to microsecond timestamps (integer DIV)") {
    import spark.implicits._
    // 2024-01-02T03:04:05.123456789Z as ns — the 789 ns tail must TRUNCATE
    val ns = 1704164645123456789L
    val df = Seq(ns).toDF("ts")
    val out = Tables.lowerNanoTs(df, "events")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) == ns / 1000)
  }

  test("TIMESTAMP_NTZ casts to session-zone timestamp preserving wall-clock under UTC") {
    val df = spark.sql(
      "SELECT TIMESTAMP_NTZ'2024-01-02 03:04:05.123456' AS ts")
    assert(df.schema("ts").dataType == TimestampNTZType)
    val out = Tables.lowerNanoTs(df, "events")
    assert(out.schema("ts").dataType == TimestampType)
    // UTC session: the instant equals the same wall-clock read as UTC
    assert(out.select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .head().getString(0) == "2024-01-02 03:04:05.123456")
  }

  test("non-events tables and already-correct types pass through untouched") {
    import spark.implicits._
    val other = Seq(1L).toDF("ts")
    assert(Tables.lowerNanoTs(other, "orders").schema("ts").dataType == LongType)
    val good = spark.sql("SELECT TIMESTAMP'2024-01-02 03:04:05' AS ts")
    assert(Tables.lowerNanoTs(good, "events").schema("ts").dataType == TimestampType)
  }

  test("footer schema equals Spark's inferred schema for every corpus table") {
    Tables.names.foreach { n =>
      val path = s"${TestSpark.sfDir}/$n.parquet"
      assertSparkSchema(path)
      assert(Tables.load(spark, TestSpark.sfDir, n).schema ==
        Tables.lowerNanoTs(spark.read.parquet(path), n).schema, n)
    }
  }

  test("footer schema under nanosAsLong: nanosecond events load as on Spark's path") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val dir = tmpDir("graft_ns")
    val ns = 1704164645123456789L
    writeNanosEvents(dir, ns)
    assert(assertSparkSchema(s"$dir/events.parquet")("ts").dataType == LongType)
    val loaded = Tables.load(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    assert(loaded.select(unix_micros(col("ts"))).head().getLong(0) == ns / 1000)
  }

  test("footer schema of a Spark-written multi-part directory, nested types included") {
    val dir = s"${tmpDir("graft_parts")}/t.parquet"
    spark.range(0, 40, 1, 4).selectExpr(
      "id", "CAST(id AS DECIMAL(12,2)) AS amount", "CAST(id AS STRING) AS s",
      "DATE'2024-01-01' + CAST(id AS INT) AS d", "TIMESTAMP'2024-01-01 00:00:00' AS ts",
      "array(id, id + 1) AS arr", "map(CAST(id AS STRING), id) AS m",
      "named_struct('a', id, 'b', CAST(CAST(id AS STRING) AS BINARY)) AS st")
      .write.parquet(dir)
    val parts = new java.io.File(dir).list().filter(_.startsWith("part-"))
    assert(parts.length == 4 && new java.io.File(s"$dir/_SUCCESS").exists)
    val schema = assertSparkSchema(dir)
    assert(ParquetSource.read(spark, dir).collect().toSeq.sortBy(_.getLong(0)) ==
      spark.read.parquet(dir).collect().toSeq.sortBy(_.getLong(0)))
    assert(schema.fieldNames.toSeq == Seq("id", "amount", "s", "d", "ts", "arr", "m", "st"))
  }

  test("footer choice follows Spark: _common_metadata, then _metadata, then the first data file") {
    import spark.implicits._
    val root = tmpDir("graft_pick")
    def one(name: String, df: DataFrame): String = {
      df.coalesce(1).write.parquet(s"$root/$name")
      new java.io.File(s"$root/$name").listFiles().find(_.getName.startsWith("part-")).get.getPath
    }
    val a = one("a", Seq(1L).toDF("a"))
    val b = one("b", Seq("x").toDF("b"))
    val c = one("c", Seq(1.5).toDF("c"))
    val z = one("z", Seq(true).toDF("z"))
    val dir = s"$root/t"
    new java.io.File(dir).mkdirs()
    def copy(from: String, name: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(from), java.nio.file.Paths.get(dir, name))
    copy(z, "part-1.parquet")
    copy(a, "part-0.parquet")
    copy(b, "_metadata")
    copy(c, "_common_metadata")
    def fields = assertSparkSchema(dir).fieldNames.toSeq
    assert(fields == Seq("c"))
    new java.io.File(s"$dir/_common_metadata").delete()
    assert(fields == Seq("b"))
    new java.io.File(s"$dir/_metadata").delete()
    assert(fields == Seq("a"), "the first data file in path order")
  }

  test("partitioned directories and missing paths fall back to Spark's inference") {
    import spark.implicits._
    val dir = s"${tmpDir("graft_partitioned")}/t.parquet"
    Seq((1L, "x", 1), (2L, "y", 2)).toDF("id", "s", "k").write.partitionBy("k").parquet(dir)
    assert(ParquetSource.footerSchema(spark, dir).isEmpty)
    val inferred = spark.read.parquet(dir).schema
    assert(inferred.fieldNames.toSeq == Seq("id", "s", "k"))
    assert(ParquetSource.read(spark, dir).schema == inferred)
    assert(new ParquetSource.Memo().read(spark, dir).schema == inferred)
    assert(ParquetSource.read(spark, dir).where(col("k") === 2).count() == 1)
    // no file at all: Spark's own error, not a listing exception
    val missing = s"${tmpDir("graft_missing")}/none.parquet"
    assert(ParquetSource.footerSchema(spark, missing).isEmpty)
    val e = intercept[org.apache.spark.sql.AnalysisException](ParquetSource.read(spark, missing))
    assert(e.getMessage.contains("none.parquet"), e.getMessage)
  }

  test("building a source frame starts no Spark job; Spark's inference starts one") {
    val dir = s"${tmpDir("graft_jobs")}/t.parquet"
    spark.range(0, 12, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(dir)
    val memo = new ParquetSource.Memo()
    assert(jobsDuring(Tables.names.foreach(Tables.load(spark, TestSpark.sfDir, _))) == 0)
    assert(jobsDuring(ParquetSource.read(spark, dir)) == 0)
    assert(jobsDuring { memo.read(spark, dir); memo.read(spark, dir) } == 0)
    assert(jobsDuring(spark.read.parquet(dir)) >= 1,
      "control: Spark's own inference runs a job, so the listener sees jobs")
  }

  /** Spark's own inference of a headered CSV, the schema seed reads used
    * to get from two jobs. */
  private def sparkCsvSchema(path: String): StructType =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path).schema

  /** The four seeds written the way the benchmark's generator writes them
    * (Python `csv.DictWriter`: CRLF line ends; 300 municipalities whose
    * ISTAT codes have leading zeros). */
  private def writeBenchSeeds(dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/seed"))
    def put(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/seed/$name.csv"),
        lines.mkString("", "\r\n", "\r\n"))
    put("regions", Seq("id,name", "5,Veneto", "6,Friuli"))
    put("provinces", "id,name,region_id" +: (0 until 8).map(i => s"${20 + i},Provincia $i,${5 + i % 2}"))
    put("municipalities", "id,name,istat_code,province_id" +: (0 until 300).map(i =>
      s"${1000 + i},Comune $i,0${27000 + i},${20 + i % 8}"))
    put("permissions", "id,name" +: (0 until 12).map(i => s"${i + 1},perm_$i"))
  }

  test("seed CSV schemas: the declared types are Spark's inference, with istat_code a string") {
    val fixtures = tmpDir("graft_seed_fixtures")
    MigrationFixtures.write(spark, fixtures)
    val bench = tmpDir("graft_seed_bench")
    writeBenchSeeds(bench)
    assert(Main.seeds.map(_._1) == Seq("regions", "provinces", "municipalities", "permissions"))
    for (dir <- Seq(fixtures, bench); (name, ddl) <- Main.seeds) {
      val path = s"$dir/seed/$name.csv"
      val inferred = StructType(sparkCsvSchema(path).map(f =>
        if (f.name == "istat_code") f.copy(dataType = StringType) else f))
      assert(Main.seedCsv(spark, path, ddl).schema == inferred, path)
    }
    val mun = s"$bench/seed/municipalities.csv"
    assert(sparkCsvSchema(mun)("istat_code").dataType == IntegerType,
      "control: inference reads ISTAT codes as ints")
    val pinned = Main.seedCsv(spark, mun, Main.seeds.toMap.apply("municipalities"))
    assert(pinned.where(col("id") === 1000).head().getAs[String]("istat_code") == "027000")
    assert(pinned.where(col("id") === 1299).head().getAs[Int]("province_id") == 23)
    assert(pinned.count() == 300)
  }

  test("a seed whose header differs from its declared columns fails naming them") {
    val dir = tmpDir("graft_seed_header")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/regions.csv"),
      "id,code\n5,VEN\n")
    val e = intercept[Exception](
      Main.seedCsv(spark, s"$dir/regions.csv", Main.seeds.toMap.apply("regions")).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(messages.contains("code") && messages.contains("name"), messages)
  }

  test("building a seed frame starts no Spark job; Spark's CSV inference starts two") {
    val in = tmpDir("graft_seed_jobs")
    writeBenchSeeds(in)
    Main.seeds.foreach { case (name, ddl) =>
      assert(jobsDuring(Main.seedCsv(spark, s"$in/seed/$name.csv", ddl)) == 0, name)
    }
    assert(jobsDuring(sparkCsvSchema(s"$in/seed/municipalities.csv")) == 2,
      "control: Spark's own inference runs its two jobs, so the listener sees them")
  }
}
