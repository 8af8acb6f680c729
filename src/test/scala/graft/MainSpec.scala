package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CLI smoke (reference `main.py:26-45`): arg parsing, module dispatch over
  * the DAG runner, and one end-to-end run of the bundled parquet-seam
  * registry against Oracle-shaped fixtures — every target table lands. */
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

  test("end-to-end dispatch: all five pipelines run off parquet fixtures") {
    val in = java.nio.file.Files.createTempDirectory("graft-cli-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-cli-out").toString
    MigrationFixtures.write(spark, in)

    val results = Main.execute(
      Main.Args(Set("all"), list = false, Some(in), Some(out)), spark)
    assert(results.map(_.name).toSet == allPipelineNames)

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
}
