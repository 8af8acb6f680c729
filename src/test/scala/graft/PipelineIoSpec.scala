package graft

import graft.io.{Jdbc, ObjectStore, ParquetSource}
import graft.pipeline.{Pipeline, PipelineContext, Runner}
import org.apache.spark.TestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def p(n: String, deps: Seq[String], log: scala.collection.mutable.Buffer[String],
      fail: Boolean = false, mod: String = "core") =
    new Pipeline {
      def name = n
      override def dependsOn = deps
      override def module = mod
      def run(ctx: PipelineContext): Unit = {
        if (fail) sys.error(s"boom in $n"); log += n
      }
    }

  test("runner executes in dependency order, deterministically") {
    val log = scala.collection.mutable.Buffer.empty[String]
    val ps = Seq(
      p("companies", Seq("municipalities"), log),
      p("municipalities", Nil, log),
      p("udos", Seq("companies", "municipalities"), log),
      p("toponyms", Nil, log))
    val results = Runner.run(PipelineContext(spark), ps)
    assert(log.toSeq == Seq("municipalities", "toponyms", "companies", "udos"))
    assert(results.map(_.name) == log.toSeq)
  }

  test("runner rejects cycles and unknown deps") {
    val log = scala.collection.mutable.Buffer.empty[String]
    intercept[IllegalArgumentException] {
      Runner.order(Seq(p("a", Seq("b"), log), p("b", Seq("a"), log)))
    }
    intercept[IllegalArgumentException] {
      Runner.order(Seq(p("a", Seq("nope"), log)))
    }
  }

  test("runner fails fast with pipeline name + elapsed") {
    val log = scala.collection.mutable.Buffer.empty[String]
    val e = intercept[RuntimeException] {
      Runner.run(PipelineContext(spark),
        Seq(p("ok", Nil, log), p("bad", Seq("ok"), log, fail = true), p("never", Seq("bad"), log)))
    }
    assert(e.getMessage.contains("bad"))
    assert(log.toSeq == Seq("ok")) // 'never' did not run
  }

  test("module selection filters like the reference CLI --modules") {
    val log = scala.collection.mutable.Buffer.empty[String]
    Runner.run(PipelineContext(spark),
      Seq(p("c1", Nil, log), p("x1", Nil, log, mod = "auac")), Set("auac"))
    assert(log.toSeq == Seq("x1"))
  }

  test("object-store upload: deterministic keys, partition-level clients, mapping join-back") {
    val tmp = GraftBridge.tempDir("graft_os")
    val rows = Seq(
      ("r1", "a.pdf", "application/pdf", "payload-one".getBytes),
      ("r2", "b.pdf", "application/pdf", "payload-two".getBytes))
      .toDF("id", "name", "mime", "payload")
    val mapping = ObjectStore.upload(rows, "bucket",
      () => new ObjectStore.LocalFsClient(tmp)).collect().sortBy(_.id)
    assert(mapping.length == 2)
    // deterministic: re-upload produces identical keys (retry idempotency)
    val mapping2 = ObjectStore.upload(rows, "bucket",
      () => new ObjectStore.LocalFsClient(tmp)).collect().sortBy(_.id)
    assert(mapping.map(_.objectKey).toSeq == mapping2.map(_.objectKey).toSeq)
    // files exist with content
    mapping.foreach { u =>
      val f = java.nio.file.Paths.get(tmp, "bucket", u.objectKey)
      assert(java.nio.file.Files.size(f) == u.nBytes)
    }
  }

  test("object keys: any name becomes one ASCII segment under id/hash/") {
    val tmp = GraftBridge.tempDir("graft_keys")
    val names = Seq("relazione è già.pdf", "../../escape.pdf", "a/b.pdf", "..", ".", "日本.txt")
    val rows = names.zipWithIndex.map { case (n, i) => (s"r$i", n, "application/pdf", n.getBytes) }
      .toDF("id", "name", "mime", "payload")
    val mapping = ObjectStore.upload(rows, "bucket",
      () => new ObjectStore.LocalFsClient(tmp)).collect().sortBy(_.id)
    val bucket = java.nio.file.Paths.get(tmp, "bucket").toRealPath()
    mapping.zip(names).foreach { case (u, name) =>
      val parts = u.objectKey.split("/", -1)
      assert(parts.length == 3 && parts(0) == u.id, u.objectKey)
      assert(parts(1).matches("[0-9a-f]{32}"), u.objectKey)
      assert(parts(2).matches("[A-Za-z0-9._%-]+") && parts(2) != "." && parts(2) != "..",
        u.objectKey)
      assert(java.net.URLDecoder.decode(parts(2), "UTF-8") == name)
      val f = bucket.resolve(u.objectKey).normalize
      assert(f.startsWith(bucket) && java.nio.file.Files.size(f) == u.nBytes, f)
    }
    assert(ObjectStore.keySegment("plain-name_1.pdf") == "plain-name_1.pdf")
    assert(ObjectStore.keySegment("è /") == "%C3%A8%20%2F")
    assert(ObjectStore.keySegment("..") == "%2E%2E" && ObjectStore.keySegment(".") == "%2E")
    val client = new ObjectStore.LocalFsClient(tmp)
    for (bad <- Seq("../outside.pdf", "x/../../outside.pdf", "/abs/outside.pdf", ".")) {
      val e = intercept[IllegalArgumentException](client.put("bucket", bad, Array[Byte](1), "x"))
      assert(e.getMessage.contains("outside the bucket directory"), e.getMessage)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(tmp, "outside.pdf")))
  }

  /** Names of the stages `body` submits that scan a collection
    * `SparkContext.parallelize` distributed outside any query plan: the
    * shape of Spark's footer-merge job (`SchemaMergeUtils
    * .mergeSchemasInParallel` parallelizes the file list and reads the
    * footers in its tasks). A plan's local-relation scan parallelizes
    * too, but under its operator's scope, not `parallelize`. */
  private def inferenceStages(body: => Any): Seq[String] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(r =>
            r.name == "ParallelCollectionRDD" && r.scope.exists(_.name == "parallelize")))
          stages.add(e.stageInfo.name)
    }
    TestBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; TestBridge.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }

  test("one registry resolves each distinct parquet path once per run, with no inference job") {
    val in = GraftBridge.tempDir("graft-memo-in")
    val out = GraftBridge.tempDir("graft-memo-out")
    MigrationFixtures.write(spark, in)
    val resolved = scala.collection.mutable.ArrayBuffer.empty[String]
    val memo = new ParquetSource.Memo((s, p) => {
      resolved.synchronized(resolved += p); ParquetSource.schema(s, p)
    })
    val inference = inferenceStages(
      Runner.run(PipelineContext(spark), Main.registry(in, out, memo)))
    val sources = new java.io.File(in).list().filter(_.endsWith(".parquet"))
      .map(f => s"$in/$f").toSet
    val readBacks = Set("municipalities", "requirement_taxonomies", "ulss", "udos")
      .map(t => s"$out/$t.parquet")
    assert(resolved.toSet == sources ++ readBacks)
    assert(resolved.size == resolved.toSet.size,
      s"resolved more than once: ${resolved.diff(resolved.distinct).distinct}")
    assert(inference.isEmpty, s"schema-inference jobs ran: $inference")
    assert(inferenceStages(spark.read.parquet(s"$in/uo_model.parquet")).nonEmpty,
      "control: Spark's own inference job is detected")
  }

  test("udo_status_history: an unreadable udos target warns, writes unvalidated, is not cached") {
    val in = GraftBridge.tempDir("graft-hist-in")
    val out = GraftBridge.tempDir("graft-hist-out")
    MigrationFixtures.write(spark, in)
    val pipes = Main.registry(in, out).map(p => p.name -> p).toMap
    val ctx = PipelineContext(spark)
    def history() = spark.read.parquet(s"$out/udo_status_history.parquet")
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try pipes("udo_status_history").run(ctx)
    finally System.setErr(saved)
    val warned = err.toString("UTF-8")
    assert(warned.contains("[udo_status_history] could not read back udos target") &&
      warned.contains(s"$out/udos.parquet") && warned.contains("continuing unvalidated"), warned)
    assert(history().count() == 2, "unvalidated: the orphan history row is kept")
    // The failed read-back is not memoized: once udos lands, the same
    // registry validates against it and drops the orphan.
    pipes("udos").run(ctx)
    pipes("udo_status_history").run(ctx)
    assert(history().count() == 1, "validated: the orphan history row drops")
  }

  test("content-type mapping: known extensions map, unknown falls to octet-stream") {
    val out = Seq("report.PDF", "data.xml", "noext", "odd.xyz")
      .toDF("name")
      .select(col("name"), ObjectStore.contentTypeForName(col("name")).as("ct"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("report.PDF") == "application/pdf", "case-insensitive extension lookup")
    assert(out("data.xml") == "application/xml")
    assert(out("noext") == "application/octet-stream")
    assert(out("odd.xyz") == "application/octet-stream")
  }

  test("csv export (K3): <t>.csv is one headered file, overwritten in place") {
    val tmp = GraftBridge.tempDir("graft_csv")
    val nation = graft.io.Tables.load(spark, TestSpark.sfDir, "nation")
    val f = java.nio.file.Paths.get(tmp, "nation.csv")
    for (_ <- 1 to 2) {
      graft.io.CsvExport.exportFrame(nation, f.toString)
      assert(java.nio.file.Files.isRegularFile(f), "<t>.csv must be a plain file")
      assert(java.nio.file.Files.readAllLines(f).get(0).contains("n_name"), "header row present")
      assert(spark.read.option("header", "true").csv(f.toString).count() == 25)
    }
    assert(new java.io.File(tmp).list().toSeq.filterNot(_.startsWith(".")) == Seq("nation.csv"),
      "the staging directory is gone")
  }

  test("orc round-trip: values identical, predicate pushdown reaches the scan") {
    val tmp = GraftBridge.tempDir("graft_orc")
    val docs = graft.io.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    docs.write.mode("overwrite").orc(s"$tmp/docs")
    val back = spark.read.orc(s"$tmp/docs")
    assert(back.except(docs).isEmpty && docs.except(back).isEmpty)
    // ORC scans carry pushed filters just like parquet — the format is a
    // drop-in for the layout/pushdown posture, not a slow path
    val plan = back.filter(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]"),
      s"ORC scan must receive the pushed predicate:\n$plan")
  }

  test("schema-evolution read: merged schema, NULL backfill for pre-column batches") {
    import spark.implicits._
    val tmp = GraftBridge.tempDir("graft_merge")
    // batch 1 written before column `b` existed; batch 2 after
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(tmp)
    Seq((3L, "z", 30L)).toDF("id", "a", "b")
      .write.mode("append").parquet(tmp)
    val merged = graft.io.Tables.loadMerged(spark, tmp)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"),
      "merged schema must include the late column")
    val rows = merged.collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(30L)),
      "pre-column rows surface NULL, post-column rows their value")
    // pruning still reaches the scan through the merged schema
    val plan = merged.select("id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"projection must prune to id through the merged schema:\n$plan")
  }

  test("executed jdbc round-trip against embedded Derby: K1 append, S1/S2 reads, K2 truncate") {
    // Derby ships on Spark's own classpath (/opt/spark/jars), so this is a
    // REAL in-process JDBC endpoint — the write path Spark executes here
    // (batched INSERTs over N task connections) is exactly what a PG/Oracle
    // sink sees; only the dialect differs. In-memory DB: JVM-wide, no files.
    val conn = Jdbc.Conn("jdbc:derby:memory:graftjdbc;create=true", "", "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val src = spark.range(0, 100).select(
      col("id").as("ID"),
      concat(lit("name-"), col("id")).as("NAME"),
      (col("id") * 2).as("AMOUNT"))
    Jdbc.append(src, conn, "GRAFT_RT")

    // S1: range-partitioned full scan arrives as N parallel cursors
    val back = Jdbc.readTable(spark, conn, "GRAFT_RT",
      partitionColumn = Some("ID"), bounds = Some((0L, 99L)), numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.count() == 100)
    assert(back.agg(sum("AMOUNT")).head().getLong(0) == (0 until 100).map(_ * 2).sum)

    // S2: query pushdown
    val q = Jdbc.readQuery(spark, conn, "SELECT ID, NAME FROM GRAFT_RT WHERE ID < 10")
    assert(q.count() == 10)

    // K2 on the SAME config object (the reference's auac.py:39 engine
    // mismatch is unrepresentable); Derby speaks plain TRUNCATE only.
    Jdbc.truncate(conn, Seq("GRAFT_RT"), restartIdentity = false, cascade = false)
    assert(Jdbc.readTable(spark, conn, "GRAFT_RT").count() == 0)

    // reload after truncate — the reference's standard per-run cycle
    Jdbc.append(src, conn, "GRAFT_RT")
    assert(Jdbc.readTable(spark, conn, "GRAFT_RT").count() == 100)
  }

  test("jdbc option assembly: pg url decoration and cast columns") {
    assert(Jdbc.pgUrlWithUnspecifiedStrings("jdbc:postgresql://h/db")
      == "jdbc:postgresql://h/db?stringtype=unspecified")
    assert(Jdbc.pgUrlWithUnspecifiedStrings("jdbc:postgresql://h/db?ssl=true")
      == "jdbc:postgresql://h/db?ssl=true&stringtype=unspecified")
    assert(Jdbc.pgUrlWithUnspecifiedStrings("jdbc:postgresql://h/db?stringtype=unspecified")
      == "jdbc:postgresql://h/db?stringtype=unspecified")
  }
}
