package graft.engine

import org.apache.spark.sql.DataFrame

/** Bounded registry for DataFrames persisted INSIDE a lazily-returned
  * query (the one owner of cached frames besides [[Lineage]]'s scopes): a
  * query that caches an intermediate has no post-execution hook to release
  * it, so repeated invocations (Bench's warm+N loop) would stack cache
  * entries and lean on LRU eviction. Registering keeps only the newest
  * [[MaxLive]] frames, non-blocking-unpersisting the eldest; an evicted
  * frame that is re-executed later recomputes its lineage and gives the
  * same rows (`BoundedCachesSpec` releases t89's and t94's frames before
  * their actions), though its rebuilt column buffers stay persisted with
  * no cache entry owning them (ROADMAP C4).
  */
object BoundedCaches {
  // 6, not 4 (r17): the composed t94 pipeline legitimately registers 5
  // entries in ONE invocation (keep-set, GroupedRank's keyed+bucketed
  // pair, the encoded counts, PrefixSum's bucketed frame) — at MaxLive=4
  // the eldest evicted MID-QUERY and every warm bench iteration re-paid
  // the full lineage (measured: no iteration of t94 ever hit the caches
  // of the previous one). Six holds the deepest current composition plus
  // one; the frames are pre-aggregated/count-scale, so the memory bound
  // stays far under executor budget at any gate SF.
  private val MaxLive = 6
  private val live = new java.util.ArrayDeque[DataFrame]

  // r18: every persisted frame is handed back RE-ROOTED on its cache
  // entry (logical plan = the InMemoryRelation leaf, not the full
  // lineage) — see GraftBridge.rerootOnCache. The un-truncated lineage
  // made composed-pipeline plans grow multiplicatively (t94's formatted
  // plan: 14k lines) and the DRIVER became the per-iteration bottleneck:
  // DeduplicateRelations re-analysis at each composition step and full
  // plan-string rendering at each execution start / AQE update (stack-
  // sampled; t94 warm iteration = 3.2 s construction vs 0.5 s execution
  // before this change).
  private def reroot(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftBridge.rerootOnCache(df)

  /** Persist `df` (MEMORY_AND_DISK), register it for bounded retire, and
    * return it re-rooted on the cache entry (plan-truncation, above).
    *
    * Re-invocations of the same query build plan-identical frames that
    * all resolve to ONE cacheManager entry — registering each would let
    * the eldest's retirement unpersist the entry newer invocations still
    * rely on (observed as a plan-pin flake when a full test session runs
    * the query more than MaxLive times). `storageLevel` is the
    * cacheManager lookup by canonical plan, so an already-live entry is
    * re-rooted and returned without registering again. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) reroot(df)
    else {
      // named cacheQuery, not df.persist: an unnamed persist renders the
      // FULL logical-plan treeString on the driver just to label the
      // cache entry (see GraftBridge.persistNamed) — for the composed
      // pipelines that render alone was a measurable construct-time cost.
      org.apache.spark.sql.GraftBridge.persistNamed(df, "graft.bounded",
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      live.addLast(df)
      while (live.size > MaxLive)
        live.removeFirst().unpersist(blocking = false)
      reroot(df)
    }
  }

  /** Release every registered frame NOW and drop the references. Bench
    * hygiene (the r17 drift A/B): `clearCache()` between queries evicts
    * the BLOCKS, but the deque still roots each frame's QueryExecution —
    * for the composed pipelines those are large plan trees with
    * broadcast references, and holding MaxLive of them across a long
    * bench session measurably degrades the GC-heaviest queries
    * (d21 second-round medians 6.7 → 11.6 s with 6 rooted frames; flat
    * at 4). A dedicated bench session owns every cache, so dropping all
    * registrations between queries is safe and makes each measurement
    * start from the same heap state. */
  def releaseAll(): Unit = synchronized {
    while (!live.isEmpty) live.pollFirst().unpersist(blocking = false)
  }
}
