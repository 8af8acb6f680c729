package graft.operators

import java.io.ByteArrayOutputStream

import graft.functions.expr.BloomMightContainLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime Bloom-filter join pruning — the explicit form of the
  * "small-side filter pushed to the big side" pattern (Spark's AQE can
  * inject this itself when thresholds/stats line up;
  * `spark.sql.optimizer.runtime.bloomFilter.enabled` — this operator is
  * the deterministic, always-on version for joins the planner misses).
  *
  * Shape: build a Bloom sketch of the (filtered) dimension keys with a
  * distributed `treeAggregate` (executor-side partial sketches, merged
  * driver-side — never a key collect), then probe it row-by-row on the
  * fact side BEFORE the join shuffle. At 100 TB the win is shuffle volume:
  * with a 1% selective dimension and fpp=0.01, ~98% of fact rows drop at
  * the scan and never enter the exchange. The exact join afterwards
  * removes the sketch's false positives, so results are bit-identical to
  * the unfiltered join (no false negatives by construction).
  *
  * The reference has no analogue (its joins are whole-table in-memory,
  * SURVEY §2.5); this is a scale extension in the same family as AQE.
  */
object BloomPrefilter {

  /** Serialized Bloom sketch of `dim(key)` (cast to long). Eager: runs one
    * aggregate job, like any runtime-filter build side. */
  def build(dim: DataFrame, key: String, expectedItems: Long, fpp: Double): Array[Byte] = {
    val bf = dim.select(col(key).cast("long").as(key)).stat
      .bloomFilter(key, expectedItems, fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** `fact` rows whose `factKey` might be in the sketch — the pre-shuffle
    * prune. Null keys never match (probe is null-safe, null → filtered). */
  def filterMightContain(fact: DataFrame, factKey: String, bloomBytes: Array[Byte]): DataFrame =
    fact.filter(BloomMightContainLong.mightContain(col(factKey), bloomBytes))

  private def requireIntegral(df: DataFrame, key: String, side: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(key).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"BloomPrefilter needs an integral $side key; '$key' is $dt")
  }

  /** Exact LEFT SEMI join with a Bloom pre-filter on the fact side:
    * bit-identical to `fact ⋉ dim`, but only sketch-surviving rows reach
    * the join exchange. Integral keys only (cast to long both sides). */
  def semiJoin(
      fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // Enforce the documented "integral keys only" contract: a string or
    // decimal key would silently cast (non-numeric strings → NULL) and
    // change results relative to the plain join this claims to mirror.
    requireIntegral(fact, factKey, "fact")
    requireIntegral(dim, dimKey, "dim")
    val keys = dim.select(col(dimKey).cast("long").as(dimKey))
    val pre = filterMightContain(fact, factKey, build(keys, dimKey, expectedItems, fpp))
    pre.join(keys, pre(factKey).cast("long") === keys(dimKey), "left_semi")
  }
}
