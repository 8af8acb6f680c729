package graft.engine

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the reference's connection context (`src/utils.py:70-147` builds
  * Oracle/PG engines + a MinIO client eagerly) but Spark-first: one lazy
  * session, UTC session timezone (the reference normalizes Europe/Rome
  * timestamps to naive UTC-like values, `src/utils.py:298-306`), AQE on so
  * joins/aggregations re-plan at runtime, and a shuffle-partition count sized
  * for the local[32] test harness. On a real cluster the same builder is used
  * with `master` unset and shuffle partitions sized to cores × executors.
  *
  * [[builder]] also sizes Spark's JVM-wide codegen class cache
  * ([[CodegenCacheMaxEntries]], via [[Codegen.size]]) and prints one stderr
  * line with the scratch directory it chose, why, the cache cap and the
  * [[sizing]] in effect, so every session (`local`, the test session,
  * every main) starts with the same, visible engine configuration.
  */
object GraftSession {

  /** Defaults chosen for 100 TB posture:
    *  - AQE + skew-join handling: runtime re-plan beats static planning when
    *    key skew shows up at scale (TPC-H-ish data is uniform; real data isn't).
    *  - auto broadcast threshold raised: every dimension in the reference's
    *    join inventory (SURVEY §2.5) is ≤ thousands of rows.
    *  - shuffle partitions default 32 to match local[32]; override per env
    *    (see [[sizing]]).
    */
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val size = envSizing
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
    System.err.println(s"[graft] session '$appName': spark.local.dir=$localDir " +
      s"($localDirWhy); codegen cache cap=$capNote entries; cpus=${size.cpus}, " +
      s"shuffle partitions=${size.shufflePartitions}")
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", size.shufflePartitions.toString)
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
      // Kryo for broadcasts/closures (e.g. the ANN index matrix); DataFrame
      // shuffles already use Tungsten encoders either way.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // Managed-table warehouse for BUCKETED layouts (io/Bucketed): kept
      // out of the repo tree; on a cluster this is the shared warehouse
      // path instead.
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft_warehouse"))
      .config("spark.local.dir", localDir)
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
    * applies when the mount has real headroom
    * (SPARK_GRAFT_SHM_MIN_FREE_GB, default 16 GiB usable). Under the
    * bound — or on any deployment whose cluster manager sets
    * spark.local.dir itself (YARN/K8s override this config) — the
    * scratch stays on disk-backed java.io.tmpdir.
    */
  private[graft] def scratchDir(env: String => Option[String],
      shm: java.io.File = new java.io.File("/dev/shm")): (String, String) =
    env("SPARK_GRAFT_LOCAL_DIR") match {
      case Some(dir) => (dir, "SPARK_GRAFT_LOCAL_DIR")
      case None =>
        val minFreeGiB = env("SPARK_GRAFT_SHM_MIN_FREE_GB").fold(16L) { v =>
          v.trim.toLongOption.filter(_ >= 0).getOrElse(throw new IllegalArgumentException(
            s"SPARK_GRAFT_SHM_MIN_FREE_GB must be a whole number of GiB >= 0, got '$v'"))
        }
        val disk = sys.props.getOrElse("java.io.tmpdir", "/tmp")
        if (!(shm.isDirectory && shm.canWrite)) (disk, s"disk: $shm is not a writable directory")
        else {
          val free = shm.getUsableSpace
          val vs = f"${free / (1L << 30).toDouble}%.1f GiB free vs the $minFreeGiB GiB guard"
          if (free.toDouble >= minFreeGiB.toDouble * (1L << 30)) (s"$shm/graft_scratch", s"tmpfs: $vs")
          else (disk, s"disk: $shm has $vs")
        }
    }

  /** The engine's two size knobs: `SPARK_GRAFT_CPUS`, the local master's
    * thread count (default 32), and `SPARK_GRAFT_SHUFFLE_PARTITIONS`
    * (default: the cpu count). Each must be a positive whole number; a
    * malformed value fails naming its variable instead of reaching Spark
    * as a master URL or a conf string it rejects later, or not at all. */
  private[graft] final case class Sizing(cpus: Int, shufflePartitions: Int)

  private[graft] def sizing(env: String => Option[String]): Sizing = {
    val cpus = positiveInt(env, "SPARK_GRAFT_CPUS").getOrElse(32)
    Sizing(cpus, positiveInt(env, "SPARK_GRAFT_SHUFFLE_PARTITIONS").getOrElse(cpus))
  }

  /** The variable `name` as a positive whole number, None when unset. A
    * malformed value fails naming the variable. Every count-valued
    * variable (the sizing above, the dev mains' repeat counts) parses
    * through this. */
  private[graft] def positiveInt(env: String => Option[String], name: String): Option[Int] =
    env(name).map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$name must be a positive whole number, got '$v'"))
    }

  /** This JVM's sizing, parsed once; [[builder]] and [[local]] share it. */
  private lazy val envSizing: Sizing = sizing(sys.env.get)

  /** Local session for tests / CLI mains. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).master(s"local[${envSizing.cpus}]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
