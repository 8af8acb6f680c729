package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC compaction — the scale replacement for the reference's
  * truncate-and-full-reload prologue (`src/utils.py:226-243`): at 100 TB
  * you apply the day's changes, you don't rewrite the world.
  * [[latestSnapshot]] compacts a change log to its newest row per key
  * (the input may carry many versions of a key) in one hash shuffle on
  * the key set.
  *
  * Determinism: version order is (ts, then tiebreak columns) — callers
  * with possible same-key-same-ts changes pass an explicit tiebreak so
  * retried jobs produce identical snapshots.
  */
object Upsert {

  /** Newest row per key from a change log. */
  def latestSnapshot(
      changes: DataFrame, keys: Seq[String], ts: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val order = (col(ts).desc +: tiebreak.map(col(_).desc)): Seq[org.apache.spark.sql.Column]
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
