package graft.io

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge
import org.apache.spark.sql.types.StructType

/** Job-free resolution of a fixed-schema parquet source.
  *
  * `spark.read.parquet(path)` infers the schema through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which launches a Spark job,
  * one task, even for a single file, before the caller has asked for any
  * data. On small tables that fixed cost is a large share of a query's or
  * a pipeline's latency. Here the path is listed once, in the process that
  * builds the plan, and the one footer Spark's inference would read is
  * converted with Spark's own converter, then handed to
  * `spark.read.schema(s).parquet(path)`.
  *
  * Same file choice as Spark's: `_common_metadata`, else `_metadata`, else
  * the first data file in path order. Spark's own inference still runs
  * for what a single footer cannot answer: a partitioned (nested) layout,
  * a directory with no data file, a path that names no file (a glob
  * included, so the expansion or the error is Spark's), and sessions that
  * set `spark.sql.parquet.mergeSchema`. Schema-evolving tables read
  * through [[Tables.loadMerged]] instead.
  */
object ParquetSource {

  /** Parquet summary files, which Spark's inference prefers in this order. */
  private val Summaries = Seq("_common_metadata", "_metadata")

  /** The schema `spark.read.parquet(path)` would infer, or None where
    * Spark's inference must run (see above). */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    if (ParquetSchemaBridge.mergeSchema(spark)) None
    else {
      val conf = ParquetSchemaBridge.hadoopConf(spark)
      val fs = p.getFileSystem(conf)
      val listed: Option[Seq[FileStatus]] =
        try {
          val root = fs.getFileStatus(p)
          if (root.isFile) Some(Seq(root))
          else {
            val visible = fs.listStatus(p).toSeq
              .filterNot(s => ParquetSchemaBridge.hidden(s.getPath.getName))
            if (visible.exists(_.isDirectory)) None
            else Some(visible.sortBy(_.getPath.toString))
          }
        } catch { case _: FileNotFoundException => None }
      listed.flatMap { files =>
        Summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !Summaries.contains(f.getPath.getName)))
      }.flatMap(ParquetSchemaBridge.footerSchema(spark, _, conf))
    }
  }

  /** The schema of `path` without a job where a footer answers it. */
  def schema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path).getOrElse(spark.read.parquet(path).schema)

  /** `spark.read.parquet(path)`, resolved without the inference job where
    * a footer answers it. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** Reads that resolve each distinct path once: one memo per migration
    * run, whose sources are read by several pipelines and whose targets
    * are read back by their dependents. A read that fails caches nothing,
    * so a path that is missing now resolves once it exists. The memo holds
    * schemas for one session's settings; build a new one per run. */
  final class Memo(resolve: (SparkSession, String) => StructType = schema) {
    private val schemas = new ConcurrentHashMap[String, StructType]

    def read(spark: SparkSession, path: String): DataFrame =
      spark.read.schema(schemas.computeIfAbsent(path, p => resolve(spark, p))).parquet(path)
  }
}
