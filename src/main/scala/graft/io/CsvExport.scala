package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** CSV export sink (SURVEY §2.2 K3) — the reference's `export_tables_to_csv`
  * (`src/utils.py:246-273`): each table lands as ONE headered file
  * `<table>.csv`. s4 writes its round-trip through it.
  *
  * Scale posture: one file per table means a single-partition write, so
  * the whole table passes through one task. That is the reference's
  * layout for its dimension-sized exports; it is not a fact-table sink.
  */
object CsvExport {

  /** Export one frame to the plain file `path` as headered CSV. */
  def exportFrame(df: DataFrame, path: String): Unit = {
    // Write single-partition to a staging dir, then move the lone part
    // file to the exact `path` the reference's layout promises.
    val staging = path + ".__staging__"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(staging)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val fs = new Path(staging).getFileSystem(conf)
    val part = fs.listStatus(new Path(staging)).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $staging"))
    val dest = new Path(path)
    fs.delete(dest, true)
    // Hadoop FileSystem.rename signals failure by RETURNING false (e.g.
    // cross-directory restrictions on some object stores) — deleting the
    // staging dir after an unchecked rename would destroy the only copy.
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"rename $part -> $dest failed; staging left at $staging")
    fs.delete(new Path(staging), true)
  }
}
