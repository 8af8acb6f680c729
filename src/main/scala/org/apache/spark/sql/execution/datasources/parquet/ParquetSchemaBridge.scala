package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the package-private pieces of Spark's parquet schema
  * inference, so [[graft.io.ParquetSource]] can resolve a source exactly
  * as `spark.read.parquet` does, minus the one-task job that
  * `ParquetFileFormat.mergeSchemasInParallel` launches for every read. The
  * footer goes through Spark's own converter (`ParquetFileFormat
  * .readSchema`), so the session's `nanosAsLong`, binary-as-string, int96
  * and timestamp-NTZ settings and the Spark row-metadata key apply as they
  * do on Spark's path. Same extension pattern as
  * [[org.apache.spark.sql.GraftBridge]].
  */
object ParquetSchemaBridge {
  private def sessionState(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  /** The Hadoop configuration the session's file sources read with. */
  def hadoopConf(spark: SparkSession): Configuration = sessionState(spark).newHadoopConf()

  /** `spark.sql.parquet.mergeSchema`: every read merges all footers. */
  def mergeSchema(spark: SparkSession): Boolean =
    sessionState(spark).conf.isParquetSchemaMergingEnabled

  /** Names Spark's file index skips (`_`/`.`-prefixed, `._COPYING_`),
    * except the `_metadata`/`_common_metadata` summaries it keeps. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet file, from its footer alone (row
    * groups skipped, as Spark's own footer reads do), all-nullable like
    * the data schema of every file-source relation. */
  def footerSchema(spark: SparkSession, file: FileStatus, conf: Configuration): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).map(_.asNullable)
  }
}
