package graft

import graft.engine.GraftSession
import graft.io.{ObjectStore, ParquetSource, S3}
import graft.pipeline.{Pipeline, PipelineContext, Runner}
import graft.pipelines.{CorePipelines, DimensionPipelines, PoaPipelines, ServicePipelines}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** CLI entry — the reference's `main.py:26-45` module dispatch
  * (`--modules all|core|poa|cronos|auac` or a comma list) over the DAG
  * runner instead of a hand-ordered call sequence.
  *
  * The bundled registry wires the concrete [[CorePipelines]] to a
  * parquet-directory io seam so the CLI is runnable end-to-end with no
  * database: `--in <dir>` holds one parquet per source table named after
  * the reference's Oracle tables lowercased (`toponimo_templ.parquet`,
  * `titolare_model.parquet`, …), `--out <dir>` receives one parquet per
  * target table (the reference's PG tables), and resolution attachments
  * land under `<out>/_objects/`. A DB-backed deployment swaps the io
  * functions for `graft.io.Jdbc` reads/appends — the pipeline bodies are
  * already pure DataFrame → DataFrame.
  *
  * Flags: `--modules <list>` (default all), `--list` (print the selected
  * execution order, run nothing), `--in <dir>` / `--out <dir>` (required
  * unless --list).
  */
object Main {

  final case class Args(
      modules: Set[String], list: Boolean, in: Option[String], out: Option[String])

  /** `--modules` parses lowercased+trimmed, like the reference
    * (`main.py:45`); unknown module names fail fast instead of silently
    * selecting nothing. */
  def parseArgs(argv: Array[String], known: Set[String]): Args = {
    var a = Args(Set("all"), list = false, None, None)
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--modules" =>
          require(i + 1 < argv.length, "--modules needs a value")
          a = a.copy(modules =
            argv(i + 1).toLowerCase.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          i += 2
        case "--list" => a = a.copy(list = true); i += 1
        case "--in" =>
          require(i + 1 < argv.length, "--in needs a value")
          a = a.copy(in = Some(argv(i + 1))); i += 2
        case "--out" =>
          require(i + 1 < argv.length, "--out needs a value")
          a = a.copy(out = Some(argv(i + 1))); i += 2
        case other => throw new IllegalArgumentException(
          s"unknown argument '$other' (expected --modules/--list/--in/--out)")
      }
    }
    val unknown = a.modules - "all" -- known
    require(unknown.isEmpty,
      s"unknown modules ${unknown.mkString(",")}; known: all,${known.mkString(",")}")
    a
  }

  /** Seed-CSV read (S4 shape, `src/core.py:74-120,1898-1915`): header +
    * inferred schema, with named columns PINNED to string — the reference's
    * `schema_overrides={"istat_code": pl.String}`, which exists because an
    * inferred int silently eats ISTAT codes' leading zeros. */
  def seedCsv(
      spark: SparkSession, path: String,
      stringCols: Set[String] = Set.empty): DataFrame = {
    val inferred = spark.read
      .option("header", "true").option("inferSchema", "true").csv(path)
    if (stringCols.isEmpty) inferred
    else {
      val schema = org.apache.spark.sql.types.StructType(inferred.schema.map(f =>
        if (stringCols(f.name)) f.copy(dataType = org.apache.spark.sql.types.StringType)
        else f))
      spark.read.option("header", "true").schema(schema).csv(path)
    }
  }

  /** The parquet-seam registry over the concrete pipelines. Source reads
    * are lazy inside run() so --list and module filtering never touch io.
    * Every parquet read, source or `$out` read-back, goes through one
    * [[ParquetSource.Memo]] per registry call, that is per run: each
    * distinct path is resolved once, from one footer read where the plan
    * is built, instead of by a schema-inference job at every read. */
  def registry(in: String, out: String,
      sources: ParquetSource.Memo = new ParquetSource.Memo): Seq[Pipeline] = {
    def src(spark: SparkSession, table: String): DataFrame =
      sources.read(spark, s"$in/$table.parquet")
    def back(spark: SparkSession, table: String): DataFrame =
      sources.read(spark, s"$out/$table.parquet")
    def sink(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$table.parquet")
    val load = current_timestamp()
    /** CSV-seed passthrough pipelines (regions/provinces/municipalities/
      * permissions): the reference loads these verbatim from seed files. */
    def seedPipeline(pname: String, csv: String, stringCols: Set[String] = Set.empty) =
      new Pipeline {
        val name = pname
        def run(ctx: PipelineContext): Unit =
          sink(seedCsv(ctx.spark, s"$in/seed/$csv", stringCols), pname)
      }
    /** One-source one-function pipelines, the dominant registry shape. */
    def simple(pname: String, table: String, mod: String = "core")(
        body: (PipelineContext, DataFrame) => DataFrame) =
      new Pipeline {
        val name = pname
        override val module = mod
        def run(ctx: PipelineContext): Unit =
          sink(body(ctx, src(ctx.spark, table)), pname)
      }
    // Hoisted OUT of the anonymous Pipeline below: an inline lambda there
    // would close over the Pipeline instance (which holds a SparkSession-
    // touching run body) and fail task serialization; this one captures
    // only the path string / the serializable S3 config.
    val resolutionClient = objectClientFactory(s"$out/_objects")
    Seq(
      seedPipeline("regions", "regions.csv"),
      seedPipeline("provinces", "provinces.csv"),
      seedPipeline("municipalities", "municipalities.csv", Set("istat_code")),
      seedPipeline("permissions", "permissions.csv"),
      simple("ulss", "ulss_territoriale") { (_, d) =>
        DimensionPipelines.ulss(d) },
      simple("districts", "distretto_templ") { (_, d) =>
        DimensionPipelines.districts(d, load) },
      simple("company_types", "tipo_titolare_templ") { (_, d) =>
        DimensionPipelines.companyTypes(d, load) },
      simple("physical_structures", "struttura_model") { (_, d) =>
        DimensionPipelines.physicalStructures(d, load) },
      simple("buildings", "edificio_str_templ") { (_, d) =>
        DimensionPipelines.buildings(d, load) },
      new Pipeline {
        val name = "grouping_specialties"
        def run(ctx: PipelineContext): Unit = sink(
          DimensionPipelines.groupingSpecialties(
            src(ctx.spark, "ragg_discpl"),
            src(ctx.spark, "macroarea_programmazione"), load), "grouping_specialties")
      },
      new Pipeline {
        val name = "resolution_types"
        def run(ctx: PipelineContext): Unit = sink(
          DimensionPipelines.resolutionTypes(
            src(ctx.spark, "tipo_delibera"),
            src(ctx.spark, "tipo_atto"), load), "resolution_types")
      },
      simple("operational_units", "uo_model") { (_, d) =>
        DimensionPipelines.operationalUnits(d, load) },
      simple("production_factor_types", "tipo_fattore_prod_templ") { (_, d) =>
        DimensionPipelines.productionFactorTypes(d, load) },
      simple("production_factors", "fatt_prod_udo_model") { (_, d) =>
        DimensionPipelines.productionFactors(d, load) },
      simple("udo_type_classifications", "classificazione_udo_templ") { (_, d) =>
        DimensionPipelines.udoTypeClassifications(d, load) },
      simple("user_companies", "operatore_model") { (_, d) =>
        DimensionPipelines.userCompanies(d, load) },
      simple("udo_production_factors", "bind_udo_fatt_prod") { (_, d) =>
        DimensionPipelines.bindPair(d,
          "ID_FATTORE_FK", "production_factor_id", "ID_UDO_FK", "udo_id") },
      simple("udo_type_production_factor_types", "bind_tipo_22_tipo_fatt") { (_, d) =>
        DimensionPipelines.bindPair(d,
          "ID_TIPO_UDO_22_FK", "udo_type_id", "ID_TIPO_FATT_FK", "production_factor_type_id") },
      simple("udo_resolutions", "bind_atto_udo") { (_, d) =>
        DimensionPipelines.bindPair(d,
          "ID_UDO_FK", "udo_id", "ID_ATTO_FK", "resolution_id") },
      new Pipeline {
        val name = "udo_specialties"
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.udoSpecialties(
            src(ctx.spark, "bind_udo_branca"),
            src(ctx.spark, "bind_udo_branca_altro"),
            src(ctx.spark, "bind_udo_disciplina"),
            src(ctx.spark, "uo_model")), "udo_specialties")
      },
      new Pipeline {
        val name = "requirement_taxonomies"
        override val module = "auac"
        def run(ctx: PipelineContext): Unit = sink(
          ServicePipelines.requirementTaxonomies(
            src(ctx.spark, "tipo_requisito"),
            src(ctx.spark, "tipo_specifico_requisito"), load), "requirement_taxonomies")
      },
      simple("requirement_lists", "lista_requisiti_templ", mod = "auac") { (_, d) =>
        ServicePipelines.requirementLists(d, load) },
      simple("cronos_taxonomies", "classificazione_programmazione", mod = "cronos") { (_, d) =>
        ServicePipelines.cronosTaxonomy(d) },
      simple("dm70_taxonomies", "classificazione_dm_70", mod = "cronos") { (_, d) =>
        ServicePipelines.cronosTaxonomy(d) },
      new Pipeline {
        val name = "toponyms"
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.toponyms(src(ctx.spark, "toponimo_templ"), load), "toponyms")
      },
      new Pipeline {
        val name = "companies"
        // municipalities out-read: the reference joins the MIGRATED table
        // (src/core.py:288), same single-source-of-truth edge as
        // operational_offices/users.
        override val dependsOn = Seq("municipalities")
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.companies(
            src(ctx.spark, "titolare_model"),
            src(ctx.spark, "tipologia_richiedente"),
            src(ctx.spark, "natura_titolare_templ"),
            back(ctx.spark, "municipalities"), load), "companies")
      },
      new Pipeline {
        val name = "resolutions"
        def run(ctx: PipelineContext): Unit = {
          val branches = CorePipelines.resolutionBranches(
            src(ctx.spark, "delibera_templ"), src(ctx.spark, "tipo_delibera"),
            src(ctx.spark, "atto_model"), src(ctx.spark, "tipo_atto"), load)
          val (mapped, release) = CorePipelines.attachMappingWithRelease(
            branches, "resolutions", resolutionClient)
          try sink(CorePipelines.disambiguateNames(mapped).drop("attachment"), "resolutions")
          finally release()
        }
      },
      new Pipeline {
        val name = "udo_types"
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.udoTypes(
            src(ctx.spark, "tipo_udo_22_templ"),
            src(ctx.spark, "bind_tipo_22_ambito"),
            src(ctx.spark, "ambito_templ"),
            src(ctx.spark, "bind_tipo_22_natura"),
            src(ctx.spark, "natura_titolare_templ"),
            src(ctx.spark, "bind_tipo_22_flusso"),
            src(ctx.spark, "flusso_templ"), load), "udo_types")
      },
      new Pipeline {
        val name = "specialties"
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.specialties(
            src(ctx.spark, "disciplina_templ"),
            src(ctx.spark, "branca_templ"),
            src(ctx.spark, "artic_branca_altro_templ"), load), "specialties")
      },
      new Pipeline {
        val name = "requirements"
        override val module = "auac"
        // requirement_taxonomies is read BACK from the target in the
        // reference (src/auac.py:150) — a real DAG edge, so the fallback
        // scalar always finds the '-' row the upstream pipeline minted.
        override val dependsOn = Seq("requirement_taxonomies")
        def run(ctx: PipelineContext): Unit = sink(
          ServicePipelines.requirements(
            src(ctx.spark, "requisito_templ"),
            src(ctx.spark, "tipo_risposta"),
            back(ctx.spark, "requirement_taxonomies"),
            load), "requirements")
      },
      new Pipeline {
        val name = "procedures"
        override val module = "auac"
        def run(ctx: PipelineContext): Unit = sink(
          ServicePipelines.procedures(
            src(ctx.spark, "domanda_inst"),
            src(ctx.spark, "tipo_proc_templ"), load), "procedures")
      },
      new Pipeline {
        val name = "healthcare_companies"
        override val module = "cronos"
        // The reference joins the MIGRATED ulss target read back from PG
        // (src/cronos.py:100) — at the parquet seam that target is
        // $out/ulss.parquet with the surrogate id the ulss pipeline mints.
        // Reading $in/ulss.parquet here instead would let two independent
        // ulss sources drift. Consequence of the real edge: cronos cannot
        // run without core in the same selection (`--modules core,cronos`
        // or all) — the Runner refuses a severed DAG rather than joining
        // stale data, which is the fail-fast the reference only gets by
        // assuming core already populated PG.
        override val dependsOn = Seq("ulss")
        def run(ctx: PipelineContext): Unit = sink(
          ServicePipelines.healthcareCompanies(
            src(ctx.spark, "azienda_sanitaria"),
            back(ctx.spark, "ulss")), "healthcare_companies")
      },
      new Pipeline {
        val name = "operational_offices"
        // municipalities is read BACK from the migrated target
        // (src/core.py:429 reads the PG table the municipalities seed load
        // wrote) — same out-read + dependsOn pattern as requirements /
        // udo_status_history: one municipalities source of truth, not an
        // $in copy that can drift from the seed the DAG actually loaded.
        override val dependsOn = Seq("municipalities")
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.operationalOffices(
            src(ctx.spark, "sede_oper_model"),
            back(ctx.spark, "municipalities"),
            src(ctx.spark, "tipo_punto_fisico_templ"), load), "operational_offices")
      },
      new Pipeline {
        val name = "udos"
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.udos(
            src(ctx.spark, "udo_model"),
            src(ctx.spark, "sede_oper_model"),
            src(ctx.spark, "struttura_model"),
            src(ctx.spark, "uo_model"), load), "udos")
      },
      new Pipeline {
        val name = "udo_status_history"
        // The read-back validation consumes the LOADED udos target
        // (src/core.py:1770-1786) — a genuine DAG edge, not an implied
        // order. The reference's warn-and-continue on an unreadable
        // target is modeled by the Option: read failure -> None -> keep
        // every row, log the warn. The memo resolves the path eagerly, so
        // a missing or unreadable target fails inside the try, and caches
        // nothing when it does.
        override val dependsOn = Seq("udos")
        def run(ctx: PipelineContext): Unit = {
          val target =
            try Some(back(ctx.spark, "udos"))
            catch { case NonFatal(e) =>
              System.err.println(
                s"[udo_status_history] could not read back udos target " +
                  s"($out/udos.parquet): ${e.getMessage} — continuing unvalidated")
              None
            }
          sink(
            CorePipelines.udosHistory(
              src(ctx.spark, "stato_udo"),
              src(ctx.spark, "udo_model"),
              src(ctx.spark, "storico_posti_letto"),
              target), "udo_status_history")
        }
      },
      new Pipeline {
        val name = "poa_truncate"
        override val module = "poa"
        // Parquet-seam analogue of the reference's TRUNCATE-only poa
        // module (src/poa.py:28-52): remove each target table's output.
        // Deletion goes through the Hadoop FileSystem resolved FROM the
        // out path — java.io.File would be a silent no-op on any
        // non-local URI (hdfs://, s3a://: exists() false, nothing
        // deleted), leaving stale poa tables exactly where the
        // reference's TRUNCATE always clears them. A DB-backed
        // deployment calls PoaPipelines.truncate(conn).
        def run(ctx: PipelineContext): Unit = {
          val conf = ctx.spark.sparkContext.hadoopConfiguration
          PoaPipelines.tables.foreach { t =>
            val p = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
            val fs = p.getFileSystem(conf)
            if (fs.exists(p)) { fs.delete(p, true); () }
          }
        }
      },
      new Pipeline {
        val name = "users"
        // users joins the already-migrated municipalities dimension (the
        // reference reads it back from PG, src/core.py:1829) — read the
        // $out target the municipalities pipeline wrote, same pattern as
        // operational_offices, so both consumers see the ONE loaded copy.
        override val dependsOn = Seq("companies", "municipalities")
        def run(ctx: PipelineContext): Unit = sink(
          CorePipelines.users(
            src(ctx.spark, "utente_model"),
            src(ctx.spark, "anagrafica_utente_model"),
            src(ctx.spark, "uo_model"),
            back(ctx.spark, "municipalities"), load), "users")
      })
  }

  /** Object-store client factory for attachment uploads: a real
    * S3-compatible store ([[graft.io.S3.S3Client]]) when the deployment
    * provides `GRAFT_S3_ENDPOINT` (credentials via `GRAFT_S3_ACCESS_KEY` /
    * `GRAFT_S3_SECRET_KEY`, region via `GRAFT_S3_REGION`) — the
    * reference's MinIO wiring, `src/utils.py:138-147` — else the local
    * filesystem under `objRoot`. Env is injected for testability; the
    * returned thunk captures only serializable state (the per-partition
    * client contract). */
  def objectClientFactory(
      objRoot: String,
      env: Map[String, String] = sys.env): () => ObjectStore.Client =
    env.get("GRAFT_S3_ENDPOINT") match {
      case Some(endpoint) =>
        val cfg = S3.Config(
          endpoint,
          env.getOrElse("GRAFT_S3_REGION", "us-east-1"),
          env.getOrElse("GRAFT_S3_ACCESS_KEY", ""),
          env.getOrElse("GRAFT_S3_SECRET_KEY", ""))
        require(cfg.accessKey.nonEmpty && cfg.secretKey.nonEmpty,
          "GRAFT_S3_ENDPOINT is set but GRAFT_S3_ACCESS_KEY/GRAFT_S3_SECRET_KEY are not")
        () => new S3.S3Client(cfg)
      case None => () => new ObjectStore.LocalFsClient(objRoot)
    }

  def main(argv: Array[String]): Unit = {
    val knownModules = Set("core", "poa", "cronos", "auac")
    val args = parseArgs(argv, knownModules)
    if (args.list) {
      val pipes = registry(args.in.getOrElse("<in>"), args.out.getOrElse("<out>"))
      val selected = Runner.order(pipes).filter(p =>
        args.modules.contains("all") || args.modules.contains(p.module))
      selected.foreach(p => println(s"${p.module}/${p.name}"))
      return
    }
    val spark = GraftSession.local("graft-etl")
    // The reference's setup_logging (src/utils.py:48-67): every run gets a
    // timestamped file under logs/ mirroring the console lines.
    val log = graft.pipeline.RunLog.timestamped("logs")
    try {
      val results = execute(args, spark, Some(log))
      results.foreach(r => println(f"${r.name}%-24s ${r.elapsedMs}%6d ms"))
      log.info(s"ETL process completed successfully (${results.size} pipelines)")
    } finally { log.close(); spark.stop() }
  }

  /** The dispatch body, session-injected so tests (and embedding callers)
    * reuse their own session instead of main()'s owned one. */
  def execute(args: Args, spark: SparkSession,
      log: Option[graft.pipeline.RunLog] = None): Seq[Runner.Result] = {
    val in = args.in.getOrElse(throw new IllegalArgumentException("--in <dir> is required"))
    val out = args.out.getOrElse(throw new IllegalArgumentException("--out <dir> is required"))
    Runner.run(PipelineContext(spark), registry(in, out), args.modules, log)
  }
}
