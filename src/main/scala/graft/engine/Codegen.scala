package graft.engine

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.SQLConf
import scala.util.Try

/** Spark's generated-code class cache and its compile counters.
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
    def member(o: AnyRef, name: String): AnyRef = {
      val classes = Iterator.iterate[Class[_]](o.getClass)(_.getSuperclass).takeWhile(_ != null).toSeq
      classes.flatMap(_.getDeclaredMethods).find(m => m.getName == name && m.getParameterCount == 0)
        .map { m => m.setAccessible(true); m.invoke(o) }
        .getOrElse {
          val f = classes.flatMap(_.getDeclaredFields).find(_.getName == name).get
          f.setAccessible(true)
          f.get(o)
        }
    }
    // CodeGenerator.cache: NonFateSharingCache -> .cache: Guava LocalCache
    // wrapper -> .localCache -> .maxWeight (entries, under unit weights)
    val guava = member(member(CodeGenerator, "cache"), "cache")
    member(member(guava, "localCache"), "maxWeight").asInstanceOf[Long]
  }.toOption
}
