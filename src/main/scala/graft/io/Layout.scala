package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout for scale (SURVEY §4.2 partition-pruning row and
  * the 100 TB posture): the two levers that delete shuffles and scans
  * before Catalyst ever plans a query.
  *
  *  - [[writePartitioned]]: hive-style directory partitioning — equality/IN
  *    filters on the partition key prune whole directories at planning time
  *    (the scan shows `PartitionFilters`, and unmatched partitions are never
  *    listed, let alone read);
  *  - [[writeBucketed]]: pre-shuffled table layout — two tables bucketed by
  *    the same key into the same bucket count join with NO Exchange on
  *    either side; the per-bucket sort also removes the SMJ sort. This is
  *    how a fact-fact join that would shuffle 100 TB per run instead
  *    shuffles once at write time and never again.
  *
  * Choose partition columns with bounded cardinality (date, region — not
  * user id: millions of tiny directories kill the file listing) and bucket
  * counts sized so a bucket ≈ one healthy task (128-512 MB).
  */
object Layout {

  def writePartitioned(
      df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, numBuckets: Int,
      sortCol: Option[String] = None,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = df.sparkSession
    mode match {
      case SaveMode.Overwrite =>
        val loc: org.apache.hadoop.fs.Path =
          if (spark.catalog.tableExists(table)) {
            val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
            new org.apache.hadoop.fs.Path(
              spark.sessionState.catalog.getTableMetadata(ident).location)
          } else new org.apache.hadoop.fs.Path(
            spark.conf.get("spark.sql.warehouse.dir"),
            table.toLowerCase(java.util.Locale.ROOT))
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      case SaveMode.Append => // legitimate add-to-existing-layout; never delete
      case other => throw new IllegalArgumentException(
        s"writeBucketed supports Overwrite and Append, got $other")
    }
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** The co-located read side of [[writeBucketed]]: both tables written
    * with the SAME bucket count on their join keys join with NO Exchange
    * (each task zips bucket i of both sides — LayoutSpec pins the plan);
    * mismatched bucket counts degrade to a correct shuffling join. */
  def colocatedJoin(
      spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String,
      joinType: String = "inner"): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey), joinType)
  }

  /** Z-order clustered write: range-partition then sort by the Morton key
    * [[graft.functions.expr.ZValue.zValueN]] of `cols` (the composed
    * bit-arithmetic interleave that generalizes the codegen'd 2-column
    * fast path), so every output file and parquet row group covers a
    * NARROW min-max envelope on every column — the multi-dimensional
    * companion to [[writePartitioned]]: box predicates over ANY subset of
    * `cols` prune row groups by the reader's min/max stats (measured in
    * ZOrderSpec). One range shuffle at write time. */
  def writeZOrderedN(
      df: DataFrame, path: String, cols: Seq[String], bits: Int,
      numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(!df.columns.contains("__z"),
      "writeZOrderedN reserves the column name __z; rename it before writing")
    val z = graft.functions.expr.ZValue.zValueN(cols.map(col), bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(mode).parquet(path)
  }
}
