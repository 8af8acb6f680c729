package graft

import graft.engine.{GraftSession, Lineage}
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
  * Each pipeline is declared once, in one form, in [[registry]]; the
  * [[Runner]] orders them, selects the modules and runs each one without
  * generated code.
  *
  * Flags: `--modules <list>` (default all), `--list` (print the execution
  * order a run of the selection would have, run nothing; a selection that
  * severs the DAG fails as the run would), `--in <dir>` / `--out <dir>`
  * (required unless --list).
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
    * the seed's declared schema ([[seeds]]). The reference infers the
    * types and pins `istat_code` to a string
    * (`schema_overrides={"istat_code": pl.String}`), because an inferred
    * int silently eats ISTAT codes' leading zeros. The seeds are fixed
    * files, so their types are declared as inference gives them, with
    * `istat_code` a string, and building the frame starts no Spark job
    * (`inferSchema` starts two). The header is checked against the
    * declared names (`enforceSchema=false`): a seed whose columns differ
    * fails naming them instead of being read by position. */
  def seedCsv(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).option("header", "true").option("enforceSchema", "false").csv(path)

  /** The seed pipelines, each with its CSV's schema; a pipeline reads
    * `seed/<name>.csv` under the input directory. */
  private[graft] val seeds: Seq[(String, String)] = Seq(
    "regions" -> "id INT, name STRING",
    "provinces" -> "id INT, name STRING, region_id INT",
    "municipalities" -> "id INT, name STRING, istat_code STRING, province_id INT",
    "permissions" -> "id INT, name STRING")

  /** The parquet-seam registry over the concrete pipelines. Source reads
    * are lazy inside run() so --list and module filtering never touch io.
    * Every parquet read, source or `$out` read-back, goes through one
    * [[ParquetSource.Memo]] per registry call, that is per run: each
    * distinct path is resolved once, from one footer read where the plan
    * is built, instead of by a schema-inference job at every read.
    *
    * Every pipeline is declared by `pipeline(name, module, dependsOn)` with
    * a body over an `Io` handle, whose `sink` writes the pipeline's own
    * target: the target table is the pipeline's name. [[Runner.run]] runs
    * them without generated code. */
  def registry(in: String, out: String,
      sources: ParquetSource.Memo = new ParquetSource.Memo): Seq[Pipeline] = {
    final class Io(val spark: SparkSession, name: String) {
      def src(table: String): DataFrame = sources.read(spark, s"$in/$table.parquet")
      def back(table: String): DataFrame = sources.read(spark, target(table))
      def sink(df: DataFrame): Unit = df.write.mode("overwrite").parquet(target(name))
      def target(table: String): String = s"$out/$table.parquet"
    }
    def pipeline(pname: String, mod: String = "core", deps: Seq[String] = Nil)(
        body: Io => Unit): Pipeline =
      new Pipeline {
        val name = pname
        override val module = mod
        override val dependsOn = deps
        def run(ctx: PipelineContext): Unit = body(new Io(ctx.spark, pname))
      }
    val load = current_timestamp()
    // Hoisted OUT of the resolutions body below: the upload ships this
    // factory to every task, and a lambda written inside a pipeline could
    // close over the Pipeline or its Io handle (both hold the
    // SparkSession) and fail task serialization; this one captures only
    // the path string / the serializable S3 config.
    val resolutionClient = objectClientFactory(s"$out/_objects")
    // CSV-seed passthrough pipelines (regions/provinces/municipalities/
    // permissions): the reference loads these verbatim from seed files.
    seeds.map { case (pname, ddl) =>
      pipeline(pname)(io => io.sink(seedCsv(io.spark, s"$in/seed/$pname.csv", ddl)))
    } ++ Seq(
      pipeline("ulss")(io => io.sink(DimensionPipelines.ulss(io.src("ulss_territoriale")))),
      pipeline("districts")(io =>
        io.sink(DimensionPipelines.districts(io.src("distretto_templ"), load))),
      pipeline("company_types")(io =>
        io.sink(DimensionPipelines.companyTypes(io.src("tipo_titolare_templ"), load))),
      pipeline("physical_structures")(io =>
        io.sink(DimensionPipelines.physicalStructures(io.src("struttura_model"), load))),
      pipeline("buildings")(io =>
        io.sink(DimensionPipelines.buildings(io.src("edificio_str_templ"), load))),
      pipeline("grouping_specialties")(io => io.sink(DimensionPipelines.groupingSpecialties(
        io.src("ragg_discpl"), io.src("macroarea_programmazione"), load))),
      pipeline("resolution_types")(io => io.sink(DimensionPipelines.resolutionTypes(
        io.src("tipo_delibera"), io.src("tipo_atto"), load))),
      pipeline("operational_units")(io =>
        io.sink(DimensionPipelines.operationalUnits(io.src("uo_model"), load))),
      pipeline("production_factor_types")(io => io.sink(
        DimensionPipelines.productionFactorTypes(io.src("tipo_fattore_prod_templ"), load))),
      pipeline("production_factors")(io =>
        io.sink(DimensionPipelines.productionFactors(io.src("fatt_prod_udo_model"), load))),
      pipeline("udo_type_classifications")(io => io.sink(
        DimensionPipelines.udoTypeClassifications(io.src("classificazione_udo_templ"), load))),
      pipeline("user_companies")(io =>
        io.sink(DimensionPipelines.userCompanies(io.src("operatore_model"), load))),
      pipeline("udo_production_factors")(io => io.sink(DimensionPipelines.bindPair(
        io.src("bind_udo_fatt_prod"),
        "ID_FATTORE_FK", "production_factor_id", "ID_UDO_FK", "udo_id"))),
      pipeline("udo_type_production_factor_types")(io => io.sink(DimensionPipelines.bindPair(
        io.src("bind_tipo_22_tipo_fatt"),
        "ID_TIPO_UDO_22_FK", "udo_type_id", "ID_TIPO_FATT_FK", "production_factor_type_id"))),
      pipeline("udo_resolutions")(io => io.sink(DimensionPipelines.bindPair(
        io.src("bind_atto_udo"), "ID_UDO_FK", "udo_id", "ID_ATTO_FK", "resolution_id"))),
      pipeline("udo_specialties")(io => io.sink(CorePipelines.udoSpecialties(
        io.src("bind_udo_branca"), io.src("bind_udo_branca_altro"),
        io.src("bind_udo_disciplina"), io.src("uo_model")))),
      pipeline("requirement_taxonomies", "auac")(io => io.sink(
        ServicePipelines.requirementTaxonomies(
          io.src("tipo_requisito"), io.src("tipo_specifico_requisito"), load))),
      pipeline("requirement_lists", "auac")(io =>
        io.sink(ServicePipelines.requirementLists(io.src("lista_requisiti_templ"), load))),
      pipeline("cronos_taxonomies", "cronos")(io =>
        io.sink(ServicePipelines.cronosTaxonomy(io.src("classificazione_programmazione")))),
      pipeline("dm70_taxonomies", "cronos")(io =>
        io.sink(ServicePipelines.cronosTaxonomy(io.src("classificazione_dm_70")))),
      pipeline("toponyms")(io => io.sink(CorePipelines.toponyms(io.src("toponimo_templ"), load))),
      // municipalities out-read: the reference joins the MIGRATED table
      // (src/core.py:288), same single-source-of-truth edge as
      // operational_offices/users.
      pipeline("companies", deps = Seq("municipalities"))(io => io.sink(CorePipelines.companies(
        io.src("titolare_model"), io.src("tipologia_richiedente"),
        io.src("natura_titolare_templ"), io.back("municipalities"), load))),
      pipeline("resolutions") { io =>
        val branches = CorePipelines.resolutionBranches(
          io.src("delibera_templ"), io.src("tipo_delibera"),
          io.src("atto_model"), io.src("tipo_atto"), load)
        Lineage.scope { s =>
          val mapped = CorePipelines.attachMapping(s, branches, "resolutions", resolutionClient)
          io.sink(CorePipelines.disambiguateNames(mapped).drop("attachment"))
        }
      },
      pipeline("udo_types")(io => io.sink(CorePipelines.udoTypes(
        io.src("tipo_udo_22_templ"),
        io.src("bind_tipo_22_ambito"), io.src("ambito_templ"),
        io.src("bind_tipo_22_natura"), io.src("natura_titolare_templ"),
        io.src("bind_tipo_22_flusso"), io.src("flusso_templ"), load))),
      pipeline("specialties")(io => io.sink(CorePipelines.specialties(
        io.src("disciplina_templ"), io.src("branca_templ"),
        io.src("artic_branca_altro_templ"), load))),
      // requirement_taxonomies is read BACK from the target in the
      // reference (src/auac.py:150) — a real DAG edge, so the fallback
      // scalar always finds the '-' row the upstream pipeline minted.
      pipeline("requirements", "auac", Seq("requirement_taxonomies"))(io =>
        io.sink(ServicePipelines.requirements(io.src("requisito_templ"),
          io.src("tipo_risposta"), io.back("requirement_taxonomies"), load))),
      pipeline("procedures", "auac")(io => io.sink(ServicePipelines.procedures(
        io.src("domanda_inst"), io.src("tipo_proc_templ"), load))),
      // The reference joins the MIGRATED ulss target read back from PG
      // (src/cronos.py:100) — at the parquet seam that target is
      // $out/ulss.parquet with the surrogate id the ulss pipeline mints.
      // Reading $in/ulss.parquet here instead would let two independent
      // ulss sources drift. Consequence of the real edge: cronos cannot
      // run without core in the same selection (`--modules core,cronos`
      // or all) — the Runner refuses a severed DAG rather than joining
      // stale data, which is the fail-fast the reference only gets by
      // assuming core already populated PG.
      pipeline("healthcare_companies", "cronos", Seq("ulss"))(io => io.sink(
        ServicePipelines.healthcareCompanies(io.src("azienda_sanitaria"), io.back("ulss")))),
      // municipalities is read BACK from the migrated target
      // (src/core.py:429 reads the PG table the municipalities seed load
      // wrote) — same out-read + dependsOn pattern as requirements /
      // udo_status_history: one municipalities source of truth, not an
      // $in copy that can drift from the seed the DAG actually loaded.
      pipeline("operational_offices", deps = Seq("municipalities"))(io =>
        io.sink(CorePipelines.operationalOffices(io.src("sede_oper_model"),
          io.back("municipalities"), io.src("tipo_punto_fisico_templ"), load))),
      pipeline("udos")(io => io.sink(CorePipelines.udos(
        io.src("udo_model"), io.src("sede_oper_model"),
        io.src("struttura_model"), io.src("uo_model"), load))),
      // The read-back validation consumes the LOADED udos target
      // (src/core.py:1770-1786) — a genuine DAG edge, not an implied
      // order. The reference's warn-and-continue on an unreadable
      // target is modeled by the Option: read failure -> None -> keep
      // every row, log the warn. The memo resolves the path eagerly, so
      // a missing or unreadable target fails inside the try, and caches
      // nothing when it does.
      pipeline("udo_status_history", deps = Seq("udos")) { io =>
        val target =
          try Some(io.back("udos"))
          catch { case NonFatal(e) =>
            System.err.println(
              s"[udo_status_history] could not read back udos target " +
                s"(${io.target("udos")}): ${e.getMessage} — continuing unvalidated")
            None
          }
        io.sink(CorePipelines.udosHistory(
          io.src("stato_udo"), io.src("udo_model"), io.src("storico_posti_letto"), target))
      },
      // Parquet-seam analogue of the reference's TRUNCATE-only poa
      // module (src/poa.py:28-52): remove each target table's output.
      // Deletion goes through the Hadoop FileSystem resolved FROM the
      // out path — java.io.File would be a silent no-op on any
      // non-local URI (hdfs://, s3a://: exists() false, nothing
      // deleted), leaving stale poa tables exactly where the
      // reference's TRUNCATE always clears them. A DB-backed
      // deployment calls PoaPipelines.truncate(conn).
      pipeline("poa_truncate", "poa") { io =>
        val conf = io.spark.sparkContext.hadoopConfiguration
        PoaPipelines.tables.foreach { t =>
          val p = new org.apache.hadoop.fs.Path(io.target(t))
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) { fs.delete(p, true); () }
        }
      },
      // users joins the already-migrated municipalities dimension (the
      // reference reads it back from PG, src/core.py:1829) — read the
      // $out target the municipalities pipeline wrote, same pattern as
      // operational_offices, so both consumers see the ONE loaded copy.
      pipeline("users", deps = Seq("companies", "municipalities"))(io =>
        io.sink(CorePipelines.users(io.src("utente_model"), io.src("anagrafica_utente_model"),
          io.src("uo_model"), io.back("municipalities"), load))))
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
      Runner.select(pipes, args.modules).foreach(p => println(s"${p.module}/${p.name}"))
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
