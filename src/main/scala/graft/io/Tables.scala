package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-corpus table loader (driver-generated parquet, see TESTDATA.md).
  *
  * Stand-in for the reference's JDBC extract layer (`src/utils.py:150-181`):
  * the reference reads whole Oracle tables eagerly with full schema
  * inference; here parquet already carries its schema and Catalyst prunes
  * columns/pushes filters into the scan, so a `Tables.load` inside a larger
  * plan reads only what the query needs.
  *
  * A load was never free at construction, though: `spark.read.parquet`
  * runs a one-task Spark job to infer the schema from a footer before any
  * query runs. [[load]] reads that footer itself, without a job
  * ([[ParquetSource]]), so building a query over these tables starts no
  * job; [[loadMerged]] keeps Spark's inference, which must merge footers.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Sessions must set `spark.sql.legacy.parquet.nanosAsLong=true` (see
    * [[graft.engine.GraftSession]]): the `events` table carries
    * nanosecond-precision timestamps, which Spark reads as nano longs; they
    * are lowered here to microsecond timestamps by truncation — the same
    * thing DuckDB's parquet reader does — with integer arithmetic (`DIV`),
    * never double division (ns epoch values exceed 2^53).
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    lowerNanoTs(ParquetSource.read(spark, s"$dir/$name.parquet"), name)

  /** The ts-normalizing lowering behind [[load]] (TablesSpec pins it
    * against every corpus table's footer). Handles both physical layouts
    * the corpus generator has produced over time:
    *
    *   - nanosecond epoch longs (read as `LongType` under
    *     `spark.sql.legacy.parquet.nanosAsLong=true`): truncated to µs with
    *     integer arithmetic (`DIV`), never double division (ns epoch values
    *     exceed 2^53) — the same thing DuckDB's parquet reader does;
    *   - microsecond timestamps without a timezone (read as
    *     `TimestampNTZType`): cast to session-zone `TimestampType`. The
    *     engine session is pinned to UTC, so the cast preserves the
    *     wall-clock instant and matches the DuckDB oracle's plain
    *     TIMESTAMP semantics, while restoring the event-time type that
    *     `unix_micros` and window() require.
    */
  def lowerNanoTs(df: DataFrame, name: String): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (name == "events" && f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
        d.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      else if (name == "events" && f.name == "ts" && f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        d.withColumn("ts", d.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      else d
    }

  /** Schema-evolution read: union all parquet batches under `path`,
    * merging schemas (`mergeSchema`) so batches written before a column
    * existed surface it as NULL and projections over the union see the
    * widest schema. This is how a 100 TB table accretes columns over
    * months of ingest without rewriting history — the file-level twin of
    * the frame-level diagonal union (`u3_union_by_name_missing`).
    *
    * Footgun the option flag guards: by default Spark reads the schema
    * from ONE random footer, so whether the new column appears would
    * depend on which file won — nondeterministic projections. Merging is
    * a footer-only operation (no data read), priced per file at planning
    * time; tables with frozen schemas skip it via the plain [[load]].
    */
  def loadMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
