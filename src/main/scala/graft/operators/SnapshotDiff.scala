package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed snapshot reconciliation: classify every key across two table
  * versions as added / removed / changed / unchanged with ONE full outer
  * join — the audit complement of [[Upsert]] (which COMPACTS a change
  * log, where this DERIVES one). The reference's migration validates loads by
  * row-count logging only (src/utils.py:180,223); a keyed diff is the
  * scalable version of that check, and doubles as a CDC changeset
  * extractor between runs.
  *
  * Scale posture: one key shuffle per side, null-safe column compares
  * (`<=>`) so NULL→value and value→NULL edits count as changes; no
  * driver-side state.
  */
object SnapshotDiff {

  /** Diff `next` against `prev` on `keys`; `compare` columns decide
    * changed-vs-unchanged. Output: key columns (coalesced across sides),
    * `status`, and `old_<c>` / `new_<c>` for each compared column.
    *
    * NULL-key rows are first-class: the join is null-safe (`<=>`), so a
    * NULL key matches its NULL counterpart, and side presence is carried
    * by explicit marker columns — never inferred from key nullness (which
    * would flip removed↔added for NULL-keyed rows). */
  def diff(prev: DataFrame, next: DataFrame, keys: Seq[String], compare: Seq[String]): DataFrame = {
    val o = prev.select((keys ++ compare).map(col): _*)
      .withColumn("__in_old", lit(true)).alias("o")
    val n = next.select((keys ++ compare).map(col): _*)
      .withColumn("__in_new", lit(true)).alias("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val inOld = col(s"o.__in_old").isNotNull
    val inNew = col(s"n.__in_new").isNotNull
    val sameValues = compare
      .map(c => col(s"o.$c") <=> col(s"n.$c"))
      .foldLeft(lit(true))(_ && _)
    val status = when(!inOld, lit("added"))
      .when(!inNew, lit("removed"))
      .when(sameValues, lit("unchanged"))
      .otherwise(lit("changed"))
    o.join(n, cond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"o.$k"), col(s"n.$k")).as(k)) ++
          Seq(status.as("status")) ++
          compare.flatMap(c =>
            Seq(col(s"o.$c").as(s"old_$c"), col(s"n.$c").as(s"new_$c"))): _*)
  }
}
