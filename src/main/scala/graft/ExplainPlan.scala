package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan-audit helper: `runMain graft.ExplainPlan <sfDir> <query|ALL> [query…]`
  * prints each query's scan/exchange tallies that matter for the 100 TB
  * posture (a profiling query that re-reads its source N times, or an
  * unexpected SinglePartition exchange, shows up here before it shows up
  * in a bench regression). Named queries also print their formatted
  * physical plan; `ALL` audits the whole catalog, tallies only.
  */
object ExplainPlan {

  /** How often a physical plan's text names each audited shape: parquet
    * scans, exchanges, `Exchange SinglePartition` (all data through one
    * task) and `BroadcastNestedLoopJoin` (the quadratic fallback). */
  final case class Tally(scans: Int, exchanges: Int, singlePartition: Int, bnlj: Int) {
    override def toString: String =
      s"scans=$scans exchanges=$exchanges singlePartition=$singlePartition bnlj=$bnlj"
  }

  def tally(plan: SparkPlan): Tally = {
    val text = plan.toString
    def n(shape: String) = shape.r.findAllIn(text).length
    Tally(n("Scan parquet"), n("Exchange"), n("Exchange SinglePartition"),
      n("BroadcastNestedLoopJoin"))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainPlan <sfDir> <query|ALL> [query…]")
    val all = args(1) == "ALL"
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else args.drop(1).toSeq
    val spark = graft.engine.GraftSession.local("graft-explain")
    try names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, args(0))
      println(s"=== $name ===")
      println(tally(df.queryExecution.executedPlan))
      if (!all) df.explain("formatted")
    } finally spark.stop()
  }
}
