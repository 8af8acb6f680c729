package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys at scale.
  *
  * AQE's skew-join splitting (enabled in [[graft.engine.GraftSession]])
  * handles skewed sort-merge joins at runtime; [[saltedJoin]] covers the
  * case AQE does not: a shuffled equi-join whose big side has hot keys and
  * whose other side is too large to broadcast outright. It salts the big
  * side and explodes the small side `salts`-fold, so a hot key's rows
  * spread over `salts` reducers (j20 runs it under the oracle).
  *
  * Salts are deterministic (hash of the full row or key, not `rand()`), so
  * retried tasks reproduce identical output — required for exactly-once
  * sinks under task retry.
  */
object Skew {

  /** Deterministic salt in [0, salts): hash of the given columns.
    *
    * LIMITATION (inherent to content-deterministic salting): rows that are
    * byte-identical hash to the SAME salt, so a hot key whose rows are
    * exact duplicates still lands on one reducer. No deterministic pure
    * function of row content can split identical rows; under task retries
    * the nondeterministic alternatives (rand, partition-local counters)
    * break exactly-once sinks. The fix for duplicate-heavy hot keys is
    * structural: pre-aggregate the duplicates (count + weight) BEFORE the
    * salted stage — which also shrinks the data. */
  def salt(salts: Int, cols: Column*): Column =
    pmod(hash(cols: _*), lit(salts))

  /** Salted inner equi-join on `bigKey === smallKey`: the big side gets a
    * deterministic per-row salt, the small side is exploded once per salt
    * value, and the join runs on (key, salt). Output columns = big ++ small
    * (join keys retained on both sides, as with a plain join). */
  def saltedJoin(
      big: DataFrame, small: DataFrame,
      bigKey: Column, smallKey: Column, salts: Int): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val bigCols = big.columns.map(big(_)).toSeq
    val smallCols = small.columns.map(small(_)).toSeq
    val b = big.withColumn("__salt", salt(salts, bigCols: _*))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, bigKey === smallKey && b("__salt") === s("__salt"))
      .select(bigCols ++ smallCols: _*)
  }
}
