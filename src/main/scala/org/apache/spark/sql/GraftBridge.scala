package org.apache.spark.sql

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Minimal bridge to the private[sql] Column↔Expression converters, so
  * graft's custom Catalyst expressions (e.g. ArrayDotProduct) can be used
  * from the public Column API. This is the standard extension seam for
  * libraries shipping native expressions on Spark 4.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-root `df` on its cacheManager entry: returns a frame whose
    * LOGICAL plan is the bare [[org.apache.spark.sql.execution.columnar
    * .InMemoryRelation]] leaf instead of the full upstream lineage — the
    * guide-§3.3 "materialise an intermediate to truncate the plan" win
    * without paying a write. For the composed pipelines (t94/t97-class:
    * 14k+-line formatted plans) the un-truncated lineage made the DRIVER
    * the bottleneck, re-paid on every construction: `DeduplicateRelations`
    * re-analysis of the whole tree at each composition step, and
    * `TreeNode.generateTreeString` re-rendering the full plan text at
    * every execution start and AQE stage update (both measured as the
    * dominant frames in driver stack samples; see OPTIMIZATION_r18.md).
    *
    * Semantics are IDENTICAL to consuming the persisted frame directly:
    * the cache substitution that planning would do lazily is applied
    * eagerly, once. Recompute-on-block-loss still works — the
    * InMemoryRelation's cached RDD recomputes missing partitions from its
    * child plan exactly as an evicted cache entry would. The returned
    * frame snapshots the CACHE ENTRY, which the BoundedCaches /
    * PrefixSum-family construct-time-snapshot doctrine already demands of
    * its callers. No-op when `df` has no live cache entry. */
  def rerootOnCache(df: Dataset[Row]): Dataset[Row] = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    session.sharedState.cacheManager.lookupCachedData(ds) match {
      // The leaf takes the frame's own attribute ids, exactly Spark's own
      // substitution (CacheManager.useCachedData: withOutput(output)), and
      // carries NO logical outputOrdering: InMemoryRelation.newInstance()
      // keeps the ordering on the old ids, so once DeduplicateRelations
      // re-instances the leaf (any self-join), canonicalizing the plan
      // would fail with `key not found`. Physical sort elision is unaffected:
      // InMemoryTableScanExec takes its ordering from the cached plan.
      case Some(cd) =>
        val cached = cd.cachedRepresentation
        classic.Dataset.ofRows(session, InMemoryRelation(ds.queryExecution.analyzed.output,
          cached.cacheBuilder, Nil, cached.statsOfPlanToCache))
      case None => df
    }
  }

  /** Persist `df` under an explicit cache NAME. `Dataset.persist` passes
    * `tableName = None`, and `CachedRDDBuilder` then derives the cache's
    * display name from a FULL `treeString` of the logical plan — an
    * eager, driver-side render of the entire lineage at every persist
    * call. For the composed pipelines (t94-class trees) that string is
    * tens of thousands of lines, re-paid per construction; a provided
    * name skips the render entirely. Behavior is otherwise identical to
    * `df.persist(level)`. */
  def persistNamed(df: Dataset[Row], name: String,
      level: org.apache.spark.storage.StorageLevel): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sharedState.cacheManager.cacheQuery(ds, Some(name), level)
  }

  /** A fresh scratch directory `<java.io.tmpdir>/<prefix>-<uuid>`, deleted
    * recursively when the JVM exits (Spark's own shutdown-hook registry,
    * which also cleans its block-manager dirs). For query-local files that
    * the returned frames read lazily, so they cannot be deleted sooner. */
  def tempDir(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getPath

  /** The class of the `file://` FileSystem that Spark's Hadoop
    * configuration gets in this JVM once `fs.file.impl` is `impl`. Hadoop
    * caches FileSystems JVM-wide under a key without the configuration,
    * so an instance cached earlier wins over `impl`. When none is cached,
    * this creates and caches one from the configuration Spark derives
    * from the system properties, as a context it starts would. */
  def localFileSystemClass(impl: String): Class[_] = {
    val conf = new Configuration(SparkHadoopUtil.get.conf)
    conf.set("fs.file.impl", impl)
    FileSystem.get(URI.create("file:///"), conf).getClass
  }
}
