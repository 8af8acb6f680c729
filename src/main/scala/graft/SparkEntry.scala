package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2 (or a
  * training-data-pipeline extension), implemented Spark-first in
  * `graft.queries.*` with the transform library in `graft.transforms.*`.
  * [[oracleSql]] carries the DuckDB-equivalent SQL for the driver's
  * hash-compare correctness gate.
  */
object SparkEntry {

  private lazy val allDefs: Seq[QueryDef] =
    ScanQueries.defs ++
      ProjectionQueries.defs ++
      FilterJoinQueries.defs ++
      AggWindowQueries.defs ++
      DedupQueries.defs ++
      SimilarityQueries.defs ++
      TextQueries.defs ++
      EventQueries.defs ++
      PackingQueries.defs ++
      HierarchyQueries.defs

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("j9_revenue_per_nation")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries → rows-only check. */
  lazy val oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(o => d.name -> o)).toMap

  /** The query names the comma-separated variable `name` selects (the dev
    * mains' `*_ONLY` subsets), None when it is unset. An empty list, or a
    * name that is not in [[queries]], fails naming the variable, the
    * latter listing the known names: a typo must not select nothing and
    * pass as an empty run. */
  private[graft] def selected(env: String => Option[String], name: String): Option[Set[String]] =
    env(name).map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.filterNot(queries.contains)
      require(names.nonEmpty, s"$name is set but names no query")
      require(unknown.isEmpty, s"$name names unknown queries ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${queries.keys.toSeq.sorted.mkString(", ")}")
      names
    }
}
