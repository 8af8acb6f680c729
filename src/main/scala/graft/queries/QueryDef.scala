package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operator-coverage query: a Spark implementation plus (usually) an
  * equivalent ANSI SQL oracle the driver runs in DuckDB on the same parquet
  * tables (see Verify). `oracle == None` → driver records a rows-only check
  * (used for ops whose results depend on hash families DuckDB doesn't have).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
  def rowsOnly(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)
}

/** Deterministic-numerics helpers.
  *
  * The correctness gate hash-compares values against DuckDB, and
  * floating-point SUM is order-dependent under partial aggregation — so every
  * money/measure aggregate goes through exact decimal arithmetic and only the
  * FINAL value is lowered to double (both engines round the same exact
  * decimal to the same nearest double). Integer widths are matched explicitly
  * (Spark `count` = BIGINT = DuckDB; `row_number`/`year` differ and get cast).
  */
object Num {
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal sum of a 2-dp measure, surfaced as double. */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Exact decimal average of a 2-dp measure, surfaced as double
    * (sum-decimal → double, divided by count in double space). */
  def avgMoney(c: Column): Column =
    sum(dec2(c)).cast(DoubleType) / count(lit(1))
}
