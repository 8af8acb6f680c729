package graft

/** Plan-audit helper: `runMain graft.ExplainPlan <sfDir> <query|ALL> [query…]`
  * prints each query's scan/exchange tallies that matter for the 100 TB
  * posture (a profiling query that re-reads its source N times, or an
  * unexpected SinglePartition exchange, shows up here before it shows up
  * in a bench regression). Named queries also print their formatted
  * physical plan; `ALL` audits the whole catalog, tallies only.
  */
object ExplainPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainPlan <sfDir> <query|ALL> [query…]")
    val all = args(1) == "ALL"
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else args.drop(1).toSeq
    val spark = graft.engine.GraftSession.local("graft-explain")
    try names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, args(0))
      val plan = df.queryExecution.executedPlan.toString
      println(s"=== $name ===")
      println("scans=" + "Scan parquet".r.findAllIn(plan).length +
        " exchanges=" + "Exchange".r.findAllIn(plan).length +
        " singlePartition=" + "Exchange SinglePartition".r.findAllIn(plan).length +
        " bnlj=" + "BroadcastNestedLoopJoin".r.findAllIn(plan).length)
      if (!all) df.explain("formatted")
    } finally spark.stop()
  }
}
