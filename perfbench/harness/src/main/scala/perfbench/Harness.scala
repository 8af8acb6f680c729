package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Main, SparkEntry}
import graft.engine.{BoundedCaches, GraftSession}
import graft.pipeline.{Pipeline, PipelineContext, Runner}
import java.nio.file.{Files, Paths}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side. It drives the program only through its public
  * entry points (`GraftSession.local`, `Main.registry` with `Runner.run` as
  * `Main.execute` calls them, `SparkEntry.queries`,
  * `BoundedCaches.releaseAll`) in a closed loop with one client, and writes
  * one JSON record of what it measured; `perfbench/run.py` turns that
  * record into metrics.
  *
  * Usage:
  * {{{
  * Harness --workload migrate|queries --data <dir> --out <dir> --result <file>
  *         --seconds <s> --trace 0|1 --warmup <n> [--queries q1,q2,...]
  * }}}
  *
  * `--queries` is required for the `queries` workload and refused for
  * `migrate`.
  *
  * Sequence: one cold session set-up timed from JVM start, [[WarmSetups]]
  * stop-and-restart set-ups in the same JVM (each set-up ends with a
  * trivial job), `--warmup` untimed passes, then timed passes until
  * `--seconds` have elapsed (at least one). With
  * `--trace 1` the timed passes alternate untraced and traced, and the
  * traced ones record jobs, stages and planning times through [[Recorder]].
  *
  * Outputs for the checks are produced outside the timed window: the
  * query warm-up pass writes each result as one parquet file plus its
  * oracle SQL (the layout tools/check_oracle.py reads) where timed passes
  * use the noop sink; migration outputs stay on disk for run.py.
  */
object Harness {

  /** Restarts after the cold set-up; their median is `setup_s`. */
  val WarmSetups = 5

  final case class Opts(
      workload: String, data: String, out: String, result: String,
      seconds: Double, trace: Boolean, warmup: Int, queries: Seq[String])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = get("workload")
    val queries =
      if (workload == "queries") get("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else if (kv.contains("queries"))
        throw new IllegalArgumentException(s"--queries does not apply to $workload")
      else Nil
    Opts(
      workload, get("data"), get("out"), get("result"),
      get("seconds").toDouble, get("trace") == "1", get("warmup").toInt, queries)
  }

  /** One set-up: a ready session that has run one trivial job. */
  def session(): SparkSession = {
    val s = GraftSession.local("perfbench")
    s.sparkContext.parallelize(1 to 4, 4).count()
    s
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def failure(e: Throwable): Map[String, Any] =
    Map("error_class" -> e.getClass.getName,
      "error_message" -> String.valueOf(e.getMessage).take(2000))

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    var spark = session()
    val coldSetup = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val warmSetups = (1 to WarmSetups).map { _ =>
      spark.stop()
      val t0 = Clock.nowMs
      spark = session()
      (Clock.nowMs - t0) / 1e3
    }
    val sc = spark.sparkContext
    val storage = new StorageWatcher
    sc.addSparkListener(storage)
    val rec = new Recorder
    val verifyDir = s"${o.out}/verify"

    def traced[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec)
        try body
        finally {
          PerfbenchBridge.drain(sc)
          sc.removeSparkListener(rec)
          spark.listenerManager.unregister(rec)
        }
      }

    /** Query pass: the same hygiene between queries as `graft.Bench`,
      * then construction (the `SparkEntry.queries` call) and execution
      * (the noop sink) timed apart, under a job group named after the
      * query so traced jobs can be attributed to it. */
    def queryPass(outputs: Option[String]): Seq[Map[String, Any]] = o.queries.map { q =>
      BoundedCaches.releaseAll()
      spark.catalog.clearCache()
      System.gc()
      sc.setJobGroup(q, s"query:$q", interruptOnCancel = false)
      val t0 = Clock.nowMs
      var t1 = Double.NaN
      val base = Map[String, Any]("name" -> q, "start_ms" -> t0)
      try {
        val df = SparkEntry.queries(q)(spark, o.data)
        t1 = Clock.nowMs
        outputs match {
          // repartition, not coalesce: the query's own stages keep the
          // parallelism they have in the timed passes.
          case Some(dir) => df.repartition(1).write.mode("overwrite").parquet(s"$dir/$q")
          case None => df.write.mode("overwrite").format("noop").save()
        }
        base ++ Map("construct_end_ms" -> t1, "end_ms" -> Clock.nowMs, "ok" -> true)
      } catch { case e: Throwable =>
        base ++ Map("construct_end_ms" -> (if (t1.isNaN) null else t1),
          "end_ms" -> Clock.nowMs, "ok" -> false) ++ failure(e)
      } finally sc.clearJobGroup()
    }

    lazy val modules = Main.registry(o.data, "<out>").map(p => p.name -> p.module).toMap

    /** Migration pass: the whole DAG into a fresh output directory, through
      * `Main.registry` and `Runner.run` exactly as `Main.execute` runs it,
      * with each pipeline wrapped to record its own span. Every selected
      * pipeline counts as attempted: when Runner fails fast, the failing
      * pipeline carries the exception and the ones after it are not run. */
    def migratePass(i: Int): Seq[Map[String, Any]] = {
      val out = s"${o.out}/migrate/pass$i"
      val done = ArrayBuffer.empty[Map[String, Any]]
      val timed = Main.registry(o.data, out).map { p =>
        new Pipeline {
          val name = p.name
          override val dependsOn = p.dependsOn
          override val module = p.module
          def run(ctx: PipelineContext): Unit = {
            val base = Map[String, Any]("name" -> name, "start_ms" -> Clock.nowMs, "out" -> out)
            try {
              p.run(ctx)
              done += base ++ Map("end_ms" -> Clock.nowMs, "ok" -> true)
            } catch { case e: Throwable =>
              done += base ++ Map("end_ms" -> Clock.nowMs, "ok" -> false) ++ failure(e)
              throw e
            }
          }
        }
      }
      sc.setJobGroup("migrate", "migrate", interruptOnCancel = false)
      try {
        val elapsed = Runner.run(PipelineContext(spark), timed, Set("all"))
          .map(r => r.name -> r.elapsedMs.toDouble).toMap
        done.toSeq.map(d => d + ("elapsed_ms" -> elapsed(d("name").toString)))
      } catch { case e: Throwable =>
        val recorded = done.map(_("name")).toSet
        done.toSeq ++ Runner.order(timed).map(_.name).filterNot(recorded).map { n =>
          Map[String, Any]("name" -> n, "out" -> out, "ok" -> false) ++
            (if (done.exists(_("ok") == false)) Map("error_class" -> "NotRun",
              "error_message" -> "not run: an earlier pipeline failed")
            else failure(e))
        }
      } finally sc.clearJobGroup()
    }

    def pass(i: Int, kind: String): Map[String, Any] = {
      PerfbenchBridge.drain(sc)
      storage.resetPeak()
      traced(kind == "traced") {
        val start = Clock.nowMs
        val ops =
          if (o.workload == "migrate") migratePass(i)
          else queryPass(if (kind == "warmup" && i == 0) Some(verifyDir) else None)
        val end = Clock.nowMs
        PerfbenchBridge.drain(sc)
        val (peakBytes, peakBlocks) = storage.peak
        Map("index" -> i, "kind" -> kind, "start_ms" -> start, "end_ms" -> end,
          "peak_cached_bytes" -> peakBytes, "peak_cached_blocks" -> peakBlocks, "ops" -> ops)
      }
    }

    if (o.workload != "migrate") {
      require(o.warmup >= 1, "query workloads need a warm-up pass: it writes the checked outputs")
      val oracle = o.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      Files.createDirectories(Paths.get(verifyDir))
      Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"), json.writeValueAsString(oracle))
    }
    val passes = ArrayBuffer.empty[Map[String, Any]]
    for (_ <- 1 to o.warmup) passes += pass(passes.size, "warmup")
    val deadline = Clock.nowMs + o.seconds * 1000
    var k = 0
    while (k == 0 || Clock.nowMs < deadline || (o.trace && k < 2)) {
      passes += pass(passes.size, if (o.trace && k % 2 == 1) "traced" else "untraced")
      k += 1
    }

    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val config = Map(
      "jvm_processors" -> Runtime.getRuntime.availableProcessors,
      "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", null),
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "local_dir" -> sc.getConf.get("spark.local.dir", null),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "xmx" -> rt.getInputArguments.toArray.map(String.valueOf).filter(_.startsWith("-Xmx"))
        .lastOption.orNull,
      "java_version" -> sys.props.getOrElse("java.version", null),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)
    val record = Map(
      "workload" -> o.workload, "config" -> config,
      "cold_setup_s" -> coldSetup, "warm_setup_s" -> warmSetups,
      "passes" -> passes.toSeq,
      "pipeline_modules" -> (if (o.workload == "migrate") modules else Map.empty),
      "trace" -> (if (o.trace) rec.dump() else null))
    Files.writeString(Paths.get(o.result), json.writeValueAsString(record))
    spark.stop()
  }
}
