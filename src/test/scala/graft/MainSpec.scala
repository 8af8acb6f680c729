package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** CLI smoke (reference `main.py:26-45`): arg parsing, module dispatch over
  * the DAG runner, and one end-to-end run of the bundled parquet-seam
  * registry against Oracle-shaped fixtures — every target table lands,
  * and no plan of the run uses Spark's own `lower`/`upper`/`initcap`. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("parseArgs: defaults, module lists, unknown flags/modules fail fast") {
    val known = Set("core", "poa", "cronos", "auac")
    assert(Main.parseArgs(Array.empty, known).modules == Set("all"))
    assert(Main.parseArgs(Array("--modules", "Core, AUAC"), known).modules ==
      Set("core", "auac"), "lowercased + trimmed, like the reference")
    assert(Main.parseArgs(Array("--list"), known).list)
    intercept[IllegalArgumentException](Main.parseArgs(Array("--modules", "nope"), known))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--frobnicate"), known))
    intercept[IllegalArgumentException](Main.parseArgs(Array("--modules"), known))
  }

  /** Every migrate_* in the reference with a body (cronos_plans and
    * cronos_plan_grouping_specialties are literal `pass` stubs upstream). */
  private val allPipelineNames = Set(
    "regions", "provinces", "municipalities", "permissions",
    "toponyms", "ulss", "districts", "company_types", "companies",
    "physical_structures", "operational_offices", "buildings",
    "grouping_specialties", "specialties", "resolution_types", "resolutions",
    "operational_units", "production_factor_types", "production_factors",
    "udo_type_classifications", "udo_types", "udos", "udo_production_factors",
    "udo_type_production_factor_types", "udo_specialties", "udo_resolutions",
    "udo_status_history", "users", "user_companies",
    "requirement_taxonomies", "requirement_lists", "requirements", "procedures",
    "cronos_taxonomies", "dm70_taxonomies", "healthcare_companies",
    "poa_truncate")

  test("object-store client factory: S3 from env, local fs otherwise, loud on missing creds") {
    assert(Main.objectClientFactory("/tmp/o", Map.empty)()
      .isInstanceOf[graft.io.ObjectStore.LocalFsClient])
    assert(Main.objectClientFactory("/tmp/o", Map(
      "GRAFT_S3_ENDPOINT" -> "http://minio:9000",
      "GRAFT_S3_ACCESS_KEY" -> "ak", "GRAFT_S3_SECRET_KEY" -> "sk"))()
      .isInstanceOf[graft.io.S3.S3Client])
    intercept[IllegalArgumentException](
      Main.objectClientFactory("/tmp/o", Map("GRAFT_S3_ENDPOINT" -> "http://minio:9000")))
  }

  test("registry covers every reference migration and orders the DAG") {
    val pipes = graft.pipeline.Runner.order(Main.registry("/in", "/out"))
    val names = pipes.map(_.name)
    assert(names.toSet == allPipelineNames)
    assert(names.indexOf("companies") < names.indexOf("users"))
    assert(names.indexOf("udos") < names.indexOf("udo_status_history"),
      "history's read-back validation needs the loaded udos target")
    assert(pipes.filter(_.module == "auac").map(_.name).toSet ==
      Set("requirement_taxonomies", "requirement_lists", "requirements", "procedures"))
    assert(pipes.filter(_.module == "cronos").map(_.name).toSet ==
      Set("cronos_taxonomies", "dm70_taxonomies", "healthcare_companies"))
    assert(pipes.filter(_.module == "poa").map(_.name) == Seq("poa_truncate"))
  }

  test("module selection: what a run runs, in order; a severed DAG fails, --list too") {
    import graft.pipeline.Runner
    val pipes = Main.registry("/in", "/out")
    assert(Runner.select(pipes, Set("auac")).map(_.name) ==
      Seq("requirement_taxonomies", "requirement_lists", "procedures", "requirements"))
    val all = Runner.select(pipes, Set("all"))
    assert(all.size == 37 && all == Runner.order(pipes))
    val severed = intercept[IllegalArgumentException](Runner.select(pipes, Set("cronos")))
    assert(severed.getMessage.contains("depends on 'ulss'"), severed)
    val listed = intercept[IllegalArgumentException](
      Main.main(Array("--list", "--modules", "cronos")))
    assert(listed.getMessage == severed.getMessage)
  }

  test("end-to-end dispatch: all five pipelines run off parquet fixtures") {
    val in = GraftBridge.tempDir("graft-cli-in")
    val out = GraftBridge.tempDir("graft-cli-out")
    MigrationFixtures.write(spark, in)

    // No plan of the run may hold Spark's own case mapping: its first use
    // builds a title-case table for every code point (~1.5 s per JVM).
    // The migration case-maps through Text.lower/upper instead.
    val caseMapped = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      private def check(qe: QueryExecution): Unit =
        qe.analyzed.foreachWithSubqueries(_.expressions.foreach(_.foreach {
          case e @ (_: Lower | _: Upper | _: InitCap) => caseMapped.add(e.toString)
          case _ =>
        }))
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit = check(qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = check(qe)
    }
    spark.listenerManager.register(listener)
    val results = try Main.execute(
      Main.Args(Set("all"), list = false, Some(in), Some(out)), spark)
    finally {
      org.apache.spark.TestBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(results.map(_.name).toSet == allPipelineNames)
    assert(caseMapped.isEmpty, caseMapped)

    def readOut(t: String) = spark.read.parquet(s"$out/$t.parquet")
    assert(readOut("toponyms").count() == 1)
    assert(readOut("companies").head().getAs[String]("company_form") == "SPA")
    val res = readOut("resolutions")
    assert(res.count() == 2, "delibera + atto branches")
    assert(res.filter(col("object_key").isNotNull).count() == 1,
      "the delibera's attachment uploaded")
    val udo = readOut("udo_types").head()
    assert(udo.getAs[String]("ministerial_flows") == "{\"FLS_21\"}")
    assert(readOut("users").head().getAs[String]("role") == "REGIONAL_OPERATOR")
    assert(readOut("specialties").count() == 4, "2 branches + 1 artic + 1 discipline")
    assert(readOut("requirements").head().getAs[String]("response_type") == "SI_NO")
    assert(readOut("procedures").head().getAs[String]("procedure_type") == "AUTORIZZAZIONE")
    assert(readOut("healthcare_companies").head().getAs[Long]("ulss_id") == 1L,
      "joins the minted surrogate id from the migrated $out/ulss target")
    val oo = readOut("operational_offices").head()
    // municipality_id's type now follows the MIGRATED target (seed-CSV
    // inferSchema: int), not a hand-made fixture — compare numerically.
    assert(oo.getAs[Number]("municipality_id").longValue == 42L
      && oo.getAs[String]("physical_point_type") == "Sede Operativa")
    assert(oo.getAs[java.math.BigDecimal]("lat").toPlainString == "45.44",
      "lat rounds HALF_UP to the target's numeric(8,2)")
    val udoRow = readOut("udos").head()
    assert(udoRow.getAs[String]("company_id") == "c1",
      "the derived sede JOIN struttura company map resolves")
    assert(udoRow.getAs[String]("operational_unit_id") == "ou7")
    assert(udoRow.isNullAt(udoRow.fieldIndex("block")), "'-' placeholder nulls")
    val hist = readOut("udo_status_history")
    assert(hist.count() == 1, "the orphan history row drops via read-back validation")
    val h = hist.head()
    assert(h.getAs[String]("status") == "AUTORIZZATA" && h.getAs[Int]("beds") == 12
      && h.getAs[Boolean]("is_direct_supply"))
    assert(!hist.columns.contains("hist_id") && !hist.columns.contains("id"),
      "target id is dropped — PG generates fresh UUIDs")
    // the new catalog tail: seeds, dimensions, bridges, auac/cronos
    assert(readOut("municipalities").head().getAs[String]("istat_code") == "027042",
      "istat_code schema override keeps the leading zero")
    assert(readOut("regions").count() == 1 && readOut("permissions").count() == 1)
    val ulssRow = readOut("ulss").head()
    assert(ulssRow.getAs[String]("name") == "ULSS Prima")
    assert(ulssRow.getAs[Long]("id") == 1L, "deterministic surrogate id minted")
    assert(readOut("districts").head().getAs[String]("name") == "Az - Zero",
      "strip '-' suffix then first '-' -> ' - '")
    val ct = readOut("company_types").head()
    assert(ct.getAs[Boolean]("is_show_health_director_declaration_poa")
      && !ct.getAs[Boolean]("is_active_poa"))
    val ps = readOut("physical_structures").head()
    assert(ps.getAs[String]("extra") == "{}", "all-null docway/area -> {} envelope")
    val bld = readOut("buildings").head()
    assert(bld.getAs[Boolean]("is_own_property")
      && bld.getAs[String]("extra").contains("\"docway_file_id\":\"DW7\""))
    assert(readOut("grouping_specialties").head().getAs[String]("macroarea") == "ACUTI")
    assert(readOut("resolution_types").count() == 2, "delibera + atto type names")
    assert(readOut("operational_units").head().getAs[String]("company_id") == "c1")
    val pf = readOut("production_factors").head()
    assert(pf.getAs[Int]("num_beds") == 12 && pf.getAs[Int]("num_hospital_beds") == 0,
      "'?' placeholder -> 0")
    assert(readOut("udo_type_classifications").count() == 1)
    assert(readOut("user_companies").head().getAs[String]("user_id") == "u1")
    assert(readOut("udo_production_factors").head().getAs[String]("udo_id") == "ud1")
    assert(readOut("udo_type_production_factor_types").count() == 1)
    assert(readOut("udo_resolutions").head().getAs[String]("resolution_id") == "a1")
    val us = readOut("udo_specialties")
    assert(us.count() == 3, "branca + branca_altro + one disciplina (null FK dropped)")
    assert(us.filter(col("clinical_operational_unit_id") === "ou7").count() == 1,
      "the disciplina row resolves its clinical unit")
    val rt = readOut("requirement_taxonomies")
    assert(rt.count() == 3, "generale + specifico + '-' fallback")
    assert(rt.filter(col("name") === "-").count() == 1)
    assert(readOut("requirement_lists").head().getAs[String]("resolution_id") == "d1")
    assert(readOut("cronos_taxonomies").head().getAs[String]("name") == "Cronos A")
    assert(readOut("dm70_taxonomies").count() == 1)

    // module dispatch: auac alone runs exactly its four pipelines
    val auacOnly = Main.execute(
      Main.Args(Set("auac"), list = false, Some(in), Some(out)), spark)
    assert(auacOnly.map(_.name).toSet ==
      Set("requirement_taxonomies", "requirement_lists", "requirements", "procedures"))
  }

  /** Every target table under `out`, as sorted JSON rows with the run's
    * load timestamp (any timestamp at or after `since`) nulled. */
  private def targets(out: String, since: java.sql.Timestamp): Map[String, Seq[String]] =
    new java.io.File(out).list().filter(_.endsWith(".parquet")).map { t =>
      val df = spark.read.parquet(s"$out/$t")
      val normalized = df.select(df.schema.map { f =>
        if (f.dataType == org.apache.spark.sql.types.TimestampType)
          when(col(f.name) < lit(since), col(f.name)).as(f.name)
        else col(f.name)
      }: _*)
      t -> normalized.toJSON.collect().toSeq.sorted
    }.toMap

  private val codegenKeys = graft.engine.Codegen.InterpretedConf.map(_._1)
  /** The codegen keys as the session has them set: None where unset. */
  private def codegenConf() = {
    val set = spark.conf.getAll
    codegenKeys.map(k => k -> set.get(k))
  }

  test("a registry run compiles a handful of units, and writes what a compiled run writes") {
    import graft.engine.Codegen
    import graft.pipeline.{Pipeline, PipelineContext, Runner}
    val in = GraftBridge.tempDir("graft-interp-in")
    MigrationFixtures.write(spark, in)
    val ctx = PipelineContext(spark)
    def run(runAll: Seq[Pipeline] => Unit): (String, Codegen.Count) = {
      val out = GraftBridge.tempDir("graft-interp-out")
      // An empty class cache: each run compiles every unit it needs,
      // whatever ran before it in this JVM.
      Codegen.clearCache()
      val before = Codegen.count()
      runAll(Main.registry(in, out))
      (out, Codegen.count() - before)
    }
    val conf0 = codegenConf()
    val since = new java.sql.Timestamp(System.currentTimeMillis())
    // The same pipelines in the same order, run with generated code: bare
    // `run` calls, outside the Runner that runs them interpreted.
    val (compiledOut, compiled) = run(pipes => Runner.order(pipes).foreach(_.run(ctx)))
    val (interpretedOut, interpreted) = run(pipes => Runner.run(ctx, pipes))
    assert(codegenConf() == conf0, "the session's codegen settings are restored")
    // A Spark that stops honouring the factory-mode key fails here.
    assert(interpreted.compiles <= 15, s"the registry run compiled $interpreted")
    assert(compiled.compiles >= 50, s"the compiled run compiled only $compiled")
    val a = targets(compiledOut, since)
    val b = targets(interpretedOut, since)
    assert(a.keySet.size == 36 && a.keySet == b.keySet, a.keySet)
    a.keys.foreach(t => assert(a(t) == b(t), t))
  }

  test("the codegen settings are restored after each pipeline, also when it throws") {
    import graft.engine.Codegen
    val in = GraftBridge.tempDir("graft-interp-empty")
    val out = GraftBridge.tempDir("graft-interp-out")
    val pipes = Main.registry(in, out).map(p => p.name -> p).toMap
    val ctx = graft.pipeline.PipelineContext(spark)
    val session0 = codegenConf()
    // One key set to a value of the session's own, not the default, and
    // one unset: the first comes back, the second stays unset.
    spark.conf.unset(codegenKeys(0))
    spark.conf.set(codegenKeys(1), "CODEGEN_ONLY")
    try {
      val conf0 = codegenConf()
      assert(conf0 == Seq(codegenKeys(0) -> None, codegenKeys(1) -> Some("CODEGEN_ONLY")))
      // No seed under an empty input: the pipeline fails on its read, and
      // the Runner rethrows that failure naming the pipeline.
      val failed = intercept[RuntimeException](
        graft.pipeline.Runner.run(ctx, Seq(pipes("regions"))))
      assert(failed.getCause.isInstanceOf[org.apache.spark.sql.AnalysisException], failed)
      assert(codegenConf() == conf0)
      var inside = Seq.empty[(String, Option[String])]
      Codegen.interpreted(spark) { inside = codegenConf() }
      assert(inside == Codegen.InterpretedConf.map { case (k, v) => k -> Some(v) })
      assert(codegenConf() == conf0)
    } finally session0.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
