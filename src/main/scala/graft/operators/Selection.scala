package graft.operators

import graft.engine.Lineage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed k-th-smallest selection (median, exact percentiles)
  * — the order statistic without the global sort.
  *
  * A naive exact median is `orderBy(v).limit(k)`: Spark plans TakeOrdered,
  * which keeps a k-row heap PER TASK and merges k rows on the driver — at
  * 100 TB, k ≈ n/2 makes both sides impossible. `approx_percentile` fixes
  * the cost but not the answer. This is distributed quickselect:
  *
  *  1. probe approx-quantile boundaries of the remaining range (the
  *     "pivots" — a distributed aggregate, ≤ `buckets` doubles);
  *  2. count rows per bucket (one aggregate pass), fold counts on the
  *     driver, and descend into the single bucket holding rank k;
  *  3. repeat until the candidate set fits `localLimit`, then TakeOrdered
  *     the small remainder for the exact element.
  *
  * Each round shrinks the candidate set ~`buckets`-fold, so 100 TB resolves
  * in 3–4 aggregate passes with nothing data-scale ever sorted, collected,
  * or shuffled. Equal values always land in one bucket (bucketing is a
  * function of the value), so duplicates never split a rank. Values must be
  * numeric and non-null (filter first; SQL order statistics skip NULLs).
  *
  * Each round's candidate frame is persisted (MEMORY_AND_DISK) before its
  * two passes (quantile probe + bucket count) run, and the predecessor is
  * released only AFTER the successor has materialized through its first
  * action — so the probe and count of round r read a cache, and round r+1's
  * filter computes from round r's cache instead of re-running the whole
  * filter chain from the source scan. At most one live frame plus its
  * predecessor is pinned, and the [[Lineage.scope]] releases every pin on
  * exit, including the failure path. Rounds read the pinned frame itself,
  * not a truncated view: 3–4 rounds keep the plan small.
  */
object Selection {

  /** Selection where the rank is a function of the (initially unknown)
    * total row count — e.g. the median's `n => (n + 1) / 2`. The count
    * falls out of the first round's per-bucket tallies, so callers get
    * (value, n) without a separate full `count()` pass over the source.
    * Returns the selected value and the total non-null row count. */
  def kthOfCount(
      df: DataFrame, valueCol: String, rankOf: Long => Long,
      buckets: Int = 128, localLimit: Long = 100000L): (Double, Long) =
    select(df, valueCol, rankOf, buckets, localLimit)

  private def select(
      df: DataFrame, valueCol: String, rankOf: Long => Long,
      buckets: Int, localLimit: Long): (Double, Long) = {
    // The local resolve below does limit(rank.toInt); rank <= localLimit at
    // that point, so bounding localLimit to Int range keeps the narrowing
    // cast exact instead of letting an oversized argument wrap negative.
    require(localLimit >= 1 && localLimit <= Int.MaxValue,
      s"localLimit must be in [1, ${Int.MaxValue}], got $localLimit")
    var cur = df.select(col(valueCol).cast("double").as(valueCol))
    var rank = -1L    // resolved from rankOf(total) after the first tally
    var total = -1L   // total non-null rows, from round-1 bucket counts
    var rows = -1L    // rows remaining in the candidate set
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    var resolved: Option[Double] = None
    Lineage.scope { scope =>
      var live: Option[Lineage.Pinned] = None
      while (resolved.isEmpty && (rows < 0 || rows > localLimit)) {
        val (p, bounds) = scope.pinBy(cur)(_.stat.approxQuantile(valueCol, probes, 0.001)
          .distinct.sorted(Ordering.Double.TotalOrdering))
        // first action on this round's cache has run: predecessor is safe
        // to drop without forcing a recompute from the source
        live.foreach(_.release())
        live = Some(p)
        cur = p.frame
        if (bounds.isEmpty) {
          // degenerate: too few rows for any boundary — resolve locally
          rows = if (total < 0) { total = cur.count(); total } else 0L
          if (rank < 0) rank = checkedRank(rankOf, total)
        } else {
          // bucket id = count of bounds strictly below v (asc, ties merged)
          val cnts = cur
            .groupBy(bounds.indices.foldLeft(lit(0)) { (acc, i) =>
              acc + when(col(valueCol) > bounds(i), 1).otherwise(0)
            }.as("__b"))
            .agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
          if (total < 0) {
            total = cnts.map(_._2).sum
            rank = checkedRank(rankOf, total)
          }
          var acc = 0L
          var target = -1
          for ((b, n) <- cnts if target < 0) {
            if (rank <= acc + n) { target = b; rank -= acc } else acc += n
          }
          require(target >= 0, s"rank $rank exceeds row count ${acc}")
          val lo = if (target == 0) Double.NegativeInfinity else bounds(target - 1)
          val hi = if (target == bounds.length) Double.PositiveInfinity else bounds(target)
          val bucketRows = cnts.find(_._1 == target).get._2
          cur = cur.filter(col(valueCol) > lo &&
            (if (hi.isPosInfinity) lit(true) else col(valueCol) <= hi))
          if (bucketRows == rows) {
            // Quantile boundaries can no longer subdivide: one value
            // dominates this bucket. Resolve it EXACTLY with a three-way
            // split around the bucket median — if rank lands in the equal
            // band the answer is that value (O(1), no collect); otherwise
            // descend into the strictly-smaller/larger side, which just
            // shed the dominant mass. This keeps the no-data-scale-collect
            // contract: the old fallback TakeOrdered+collected up to `rank`
            // rows (potentially ~n/2) onto the driver.
            val x = cur.stat.approxQuantile(valueCol, Array(0.5), 0.001).head
            val r3 = cur.agg(
              sum(when(col(valueCol) < x, 1L).otherwise(0L)).as("lt"),
              sum(when(col(valueCol) === x, 1L).otherwise(0L)).as("eq")).head()
            val (nLt, nEq) = (r3.getLong(0), r3.getLong(1))
            if (rank > nLt && rank <= nLt + nEq) resolved = Some(x)
            else if (rank <= nLt) { cur = cur.filter(col(valueCol) < x); rows = nLt }
            else {
              cur = cur.filter(col(valueCol) > x)
              rank -= nLt + nEq
              rows = bucketRows - nLt - nEq
            }
          } else rows = bucketRows
        }
      }
      val value = resolved.getOrElse {
        if (rank < 0) { // source was empty enough to skip every tally
          if (total < 0) total = cur.count()
          rank = checkedRank(rankOf, total)
        }
        // rows ≤ localLimit here, so rank ≤ localLimit: bounded driver work
        val tail = cur.orderBy(col(valueCol)).limit(rank.toInt).collect()
        require(tail.length >= rank, s"rank $rank exceeds remaining ${tail.length} rows")
        tail(rank.toInt - 1).getDouble(0)
      }
      (value, total)
    }
  }

  private def checkedRank(rankOf: Long => Long, total: Long): Long = {
    val k = rankOf(total)
    require(k >= 1, s"rank k must be >= 1, got $k (total rows $total)")
    require(k <= total || total < 0, s"rank $k exceeds row count $total")
    k
  }
}
