package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf
import org.apache.spark.sql.{GraftBridge, SparkSession}
import scala.jdk.CollectionConverters._

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's connection context (`src/utils.py:70-147` builds
  * Oracle/PG engines + a MinIO client eagerly) but Spark-first: one lazy
  * session, UTC session timezone (the reference normalizes Europe/Rome
  * timestamps to naive UTC-like values, `src/utils.py:298-306`), AQE on so
  * joins/aggregations re-plan at runtime, and a shuffle-partition count equal
  * to the local master's thread count. A cluster entry point would go through
  * [[start]] too, with `master` unset and shuffle partitions sized to
  * cores × executors.
  *
  * [[start]] is the one way a session is built (`local`: the four mains
  * and the benchmark harness; the test session). It sizes Spark's
  * JVM-wide codegen class cache ([[CodegenCacheMaxEntries]], via
  * [[Codegen.size]]), installs [[graft.io.LocalFileSystem]] for `file://`
  * ([[fileSystem]]) and gives the context a lean Hadoop configuration
  * ([[leanHadoopConf]]). Every session prints one stderr line with the
  * scratch directory it chose, why, the cache cap, the `file://`
  * FileSystem class in effect and why, the [[cpus]] in effect (the
  * shuffle partitions equal them) and the Hadoop configuration's size, so
  * every session starts with the same, visible engine configuration.
  *
  * The lean Hadoop configuration: the context's `hadoopConfiguration`
  * keeps no entry that only Hadoop's bundled `*-default.xml` resources
  * set (1,071 of its 1,077 entries on Hadoop 3.4: `yarn-default.xml` 520,
  * `core-default.xml` 357, `mapred-default.xml` 194). Spark copies that
  * configuration about four times per parquet read, serializes it (one
  * gzip stream per entry, ~110 KB) into every write job's task binary and
  * every file scan's broadcast, deserializes it in every write task, and
  * Parquet's writer iterates it once per task; a local run reads none of
  * the yarn and mapred job settings, and a dropped core key reads as the
  * code default Hadoop falls back to (a migration pass writes the same
  * bytes and modes either way). Kept: site files (`core-site.xml` …), the
  * SparkConf's `spark.hadoop.*` (so a deployment that needs a dropped
  * value sets it there), Spark's own settings, graft's `fs.file.impl`, and
  * any default a kept value names as `${key}`. The startup line counts
  * both.
  */
object GraftSession {

  /** The session's settings and the startup line that describes them.
    * Defaults chosen for 100 TB posture:
    *  - AQE + skew-join handling: runtime re-plan beats static planning when
    *    key skew shows up at scale (TPC-H-ish data is uniform; real data isn't).
    *  - auto broadcast threshold raised: every dimension in the reference's
    *    join inventory (SURVEY §2.5) is ≤ thousands of rows.
    *  - shuffle partitions = the cpu count, so one shuffle stage is one
    *    wave of tasks on local[cpus] (see [[cpus]]).
    */
  private def configured(appName: String): (SparkSession.Builder, String) = {
    val cpus = envCpus
    val (localDir, localDirWhy) = scratchDir(sys.env.get)
    // A cap the user already put in the SparkConf (spark-submit --conf or
    // -Dspark.sql.codegen.cache.maxEntries) wins over ours.
    val codegenCap = new SparkConf().getOption(Codegen.CacheMaxEntriesKey)
      .getOrElse(CodegenCacheMaxEntries.toString)
    val capNote = Codegen.size(codegenCap) match {
      case Some(n) if n.toString == codegenCap => s"$n"
      case Some(n) => s"$n (requested $codegenCap, but the cache was sized earlier in this JVM)"
      case None => s"unknown (requested $codegenCap)"
    }
    // Likewise a file:// implementation already in the SparkConf.
    val (fileImpl, fileNote) = fileSystem(new SparkConf().getOption(FileImplKey))
    val line = s"[graft] session '$appName': spark.local.dir=$localDir " +
      s"($localDirWhy); codegen cache cap=$capNote entries; file://=$fileNote; " +
      s"cpus=$cpus, shuffle partitions=$cpus"
    (SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Object-buffer aggregates (TypedImperativeAggregate, e.g. the top-k
      // ANN ranker) must stay hash-based: the default sort-fallback kicks in
      // at 128 distinct keys and re-sorts the whole input.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // Codegen.size above sized this JVM's cache; the conf carries the
      // cap to executor JVMs on a cluster, whose caches are sized from
      // the SQL conf a task propagates.
      .config(Codegen.CacheMaxEntriesKey, codegenCap)
      .config(FileImplKey, fileImpl)
      // Kryo for broadcasts/closures (e.g. the ANN index matrix); DataFrame
      // shuffles already use Tungsten encoders either way.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", warehouseDir(sys.env.get))
      .config("spark.local.dir", localDir), line)
  }

  /** Cap for Spark's JVM-wide codegen class cache (Spark's default: 100).
    * Sized from measured working sets, in compile units per pass: 229 for
    * the perfbench `queries` set, 1209 for the `graft.Bench` headline (plus
    * 174 that recompile on every run whatever the cap), 4278 for one
    * `graft.Verify` catalog pass. At 100, an LRU cache cycled over any of
    * these loops never hits and every warm query recompiles all its
    * classes. 2000 holds the largest warm loop, the headline, with ~45%
    * headroom; Guava splits the cap over 4 segments, so it needs some.
    * Verify is left out: it runs each query once, so only reuse across
    * queries can hit, and an unbounded cap saved just 337 of its 4615
    * compiles at 2000. */
  val CodegenCacheMaxEntries: Int = 2000

  private[graft] val FileImplKey = "spark.hadoop.fs.file.impl"

  /** The `file://` FileSystem class to configure (`requested`, the
    * SparkConf's, else [[graft.io.LocalFileSystem]], which sets
    * permissions without forking `chmod`) and the startup line's note:
    * the class in effect and why. Hadoop's FileSystem cache is JVM-wide
    * and its key ignores the configuration, so a FileSystem cached
    * earlier in this JVM stays in effect whatever this session asks for. */
  private[graft] def fileSystem(requested: Option[String]): (String, String) = {
    val impl = requested.getOrElse(classOf[graft.io.LocalFileSystem].getName)
    val inEffect = GraftBridge.localFileSystemClass(impl).getName
    val why =
      if (inEffect != impl) s"requested $impl, but a file:// FileSystem was cached earlier in this JVM"
      else if (requested.isDefined) s"$FileImplKey in the SparkConf"
      else "graft's default: permissions without a forked chmod"
    (impl, s"$inEffect ($why)")
  }

  /** Shuffle/spill scratch dir (`spark.local.dir`) and why it was chosen,
    * the reason printed in the session's startup line.
    *
    * Guide §2.1: local storage latency is part of every shuffle's cost,
    * and the iterative operators run
    * dozens of tiny per-round shuffles whose cost is FILE-CREATION
    * latency, not bandwidth — A/B on the iterative bench subset:
    * tmpfs scratch took d51 3.09→1.76 s, d56 1.85→1.40, h2 2.68→2.33
    * (d21 flat). Default = memory-backed /dev/shm when present (the
    * local-harness analog of the fast local NVMe scratch a production
    * cluster mounts for spark.local.dir); SPARK_GRAFT_LOCAL_DIR
    * overrides for deployments whose shuffle volume exceeds RAM.
    * r19 GUARD (r18 advice): a RAM-backed scratch dir fills MEMORY when
    * shuffle volume exceeds it — Docker's default /dev/shm is 64 MB and
    * tmpfs is typically capped at 50% RAM, so the tmpfs default only
    * applies when the mount has `minFreeGiB` usable (16 GiB unless a
    * caller passes another bound). Under the bound — or on any deployment
    * whose cluster manager sets spark.local.dir itself (YARN/K8s
    * override this config) — the scratch stays on disk-backed
    * java.io.tmpdir.
    */
  private[graft] def scratchDir(env: String => Option[String],
      shm: java.io.File = new java.io.File("/dev/shm"),
      minFreeGiB: Long = 16L): (String, String) =
    env("SPARK_GRAFT_LOCAL_DIR") match {
      case Some(dir) => (dir, "SPARK_GRAFT_LOCAL_DIR")
      case None =>
        val disk = sys.props.getOrElse("java.io.tmpdir", "/tmp")
        if (!(shm.isDirectory && shm.canWrite)) (disk, s"disk: $shm is not a writable directory")
        else {
          val free = shm.getUsableSpace
          val vs = f"${free / (1L << 30).toDouble}%.1f GiB free vs the $minFreeGiB GiB guard"
          if (free.toDouble >= minFreeGiB.toDouble * (1L << 30)) (s"$shm/graft_scratch", s"tmpfs: $vs")
          else (disk, s"disk: $shm has $vs")
        }
    }

  /** Managed-table warehouse for bucketed layouts (`Layout.writeBucketed`):
    * `SPARK_GRAFT_WAREHOUSE` on a deployment with a shared warehouse path,
    * else a fresh directory of this JVM's own under `java.io.tmpdir`,
    * deleted at exit, so two JVMs never save tables into one directory. */
  private[graft] def warehouseDir(env: String => Option[String]): String =
    env("SPARK_GRAFT_WAREHOUSE").getOrElse(GraftBridge.tempDir("graft_warehouse"))

  /** The engine's size: `SPARK_GRAFT_CPUS`, the local master's thread
    * count and the shuffle partition count (default 32). It must be a
    * positive whole number; a malformed value fails naming the variable
    * instead of reaching Spark as a master URL it rejects later. */
  private[graft] def cpus(env: String => Option[String]): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS").getOrElse(32)

  /** The variable `name` as a positive whole number, None when unset. A
    * malformed value fails naming the variable. Every count-valued
    * variable (the cpus above, the dev mains' repeat counts) parses
    * through this. */
  private[graft] def positiveInt(env: String => Option[String], name: String): Option[Int] =
    env(name).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive whole number, got '$v'"))
    }

  /** This JVM's cpu count, parsed once; [[configured]] and [[local]] share it. */
  private lazy val envCpus: Int = cpus(sys.env.get)

  /** Gets or creates the session that `configure` makes of the engine's
    * settings ([[configured]]), gives its context a lean Hadoop
    * configuration ([[leanHadoopConf]]) and prints the startup line with
    * the Hadoop configuration's size. */
  private[graft] def start(appName: String)(
      configure: SparkSession.Builder => SparkSession.Builder): SparkSession = {
    val (b, line) = configured(appName)
    val s = configure(b).getOrCreate()
    val (kept, dropped) = leanHadoopConf(s.sparkContext.hadoopConfiguration)
    System.err.println(s"$line; hadoop conf=$kept entries ($dropped bundled defaults dropped)")
    s
  }

  /** Unsets every entry of `conf` whose sources are all Hadoop's bundled
    * `*-default.xml` resources, and returns the entries kept and dropped.
    * A dropped key reads as its code default, or unset; one the SparkConf
    * or a site file sets is kept. So is a default a kept value names as
    * `${key}`: Hadoop leaves an unresolved reference in the value as it
    * is. A context loads all its default resources (`JobConf`,
    * `HdfsConfiguration`) while it starts, so none reloads them later
    * (`GraftSessionSpec` round-trips four formats to check). */
  private[graft] def leanHadoopConf(conf: Configuration): (Int, Int) = {
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val bundled = entries.keySet.filter { k =>
      Option(conf.getPropertySources(k)).exists(_.forall(_.endsWith("-default.xml")))
    }
    def named(keys: Set[String]) = keys.flatMap(k => VarRef.findAllMatchIn(entries(k)).map(_.group(1)))
    var keep = entries.keySet -- bundled
    var added = keep
    while (added.nonEmpty) {
      added = named(added).intersect(bundled) -- keep
      keep ++= added
    }
    val drop = bundled -- keep
    drop.foreach(conf.unset)
    (conf.size, drop.size)
  }

  private val VarRef = """\$\{([^}$\s]+)\}""".r

  /** Local session for tests / CLI mains. */
  def local(appName: String = "graft"): SparkSession = {
    val s = start(appName)(_.master(s"local[$envCpus]"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
