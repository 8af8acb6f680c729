package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf
import scala.util.Try

/** Spark's generated-code class cache, its compile counters, and a scope
  * that runs work without generated code ([[interpreted]]).
  *
  * `CodeGenerator` keeps ONE cache of compiled classes for the whole JVM,
  * sized from `SQLConf.get` the first time the object is touched and never
  * resized. It is an LRU cache: cycled over a working set larger than its
  * cap it never hits, and every query recompiles (Janino time plus a
  * restart in the bytecode interpreter). [[size]] pins the cap before
  * anything else can touch the object; [[count]] exposes the compile
  * counters so a caller can attribute compiles to a query or a pipeline.
  */
object Codegen {

  val CacheMaxEntriesKey = "spark.sql.codegen.cache.maxEntries"

  /** Compile units (cache misses, one Janino compilation each) and their
    * summed wall milliseconds, JVM-wide and summed over threads. */
  final case class Count(compiles: Long, ms: Long) {
    def -(o: Count): Count = Count(compiles - o.compiles, ms - o.ms)
  }

  def count(): Count =
    Count(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1000000L)

  /** Session-conf values that make Spark plan and run `body` without
    * generated code: no whole-stage fusion, and every projection,
    * predicate and ordering built by the interpreted factory instead of
    * the codegen-with-fallback one. Both keys are needed: with only the
    * first, `UnsafeProjection` and `Predicate` still compile. The second
    * is a Spark-internal key; `MainSpec` pins that it still takes
    * effect. */
  val InterpretedConf: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Run `body` with [[InterpretedConf]] set on the session conf and
    * restore the previous values afterwards, also when `body` throws: a
    * key the session had set gets its value back, a key it had not set is
    * unset again (reading it would give Spark's default, which must not
    * become an explicit setting). For work that runs once over small
    * inputs, where Janino compile time outweighs what generated code saves.
    *
    * The setting is session-wide, not scoped to `body`'s own queries:
    * anything else running on the session meanwhile runs interpreted too.
    * That is safe for its caller, [[graft.pipeline.Runner.run]], which runs
    * each pipeline inside it, one pipeline at a time, and the values are
    * propagated to that pipeline's tasks with the rest of the session conf. */
  def interpreted[T](spark: SparkSession)(body: => T): T = {
    val set = spark.conf.getAll
    val saved = InterpretedConf.map { case (k, _) => k -> set.get(k) }
    InterpretedConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Size the JVM-wide cache to `requested` entries if it is not sized yet
    * and return the cap it really has. The first touch happens under an
    * explicit conf, so the cap holds whether or not a session is active
    * (with none, `SQLConf.get` is a default conf and the cache would keep
    * Spark's 100). A cache sized earlier in this JVM keeps its cap; the
    * returned value then differs from `requested`, and the caller says so.
    * `requested` is validated by `SQLConf`, so a malformed value fails
    * naming the key. */
  def size(requested: String): Option[Long] = {
    val conf = new SQLConf
    conf.setConfString(CacheMaxEntriesKey, requested)
    SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
    cacheMaxEntries()
  }

  /** The live cache's entry bound, read by reflection (every link is
    * Spark-private) from the Guava cache behind `CodeGenerator.cache`;
    * None if this Spark build lays it out differently. */
  def cacheMaxEntries(): Option[Long] = Try {
    // CodeGenerator.cache: NonFateSharingCache -> .cache: Guava LocalCache
    // wrapper -> .localCache -> .maxWeight (entries, under unit weights)
    val guava = member(member(CodeGenerator, "cache"), "cache")
    member(member(guava, "localCache"), "maxWeight").asInstanceOf[Long]
  }.toOption

  /** Drop every compiled class from the JVM-wide cache, so the next
    * queries compile all their units: specs that count compiles use it to
    * be independent of what ran before them in the JVM. */
  private[graft] def clearCache(): Unit = {
    val cache = member(CodeGenerator, "cache") // a Spark-private NonFateSharingCache
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** A member of `o` by name, a no-argument method or else a field, looked
    * up on its class and superclasses whatever its visibility. */
  private def member(o: AnyRef, name: String): AnyRef = {
    val classes = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null).toSeq
    classes.flatMap(_.getDeclaredMethods).find(m => m.getName == name && m.getParameterCount == 0)
      .map { m => m.setAccessible(true); m.invoke(o) }
      .getOrElse {
        val f = classes.flatMap(_.getDeclaredFields).find(_.getName == name).get
        f.setAccessible(true)
        f.get(o)
      }
  }
}
