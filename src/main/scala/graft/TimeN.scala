package graft

/** Repeat-timing harness for same-JVM A/B perf work: runs each named query
  * REPS times through the noop sink (same execution path as Bench) and
  * prints per-run + median seconds. Host noise on this VM is ±40% across
  * JVMs (see memory notes) — only medians from ONE JVM are comparable.
  */
object TimeN {
  def main(args: Array[String]): Unit = {
    val reps = graft.engine.GraftSession.positiveInt(sys.env.get, "REPS").getOrElse(5)
    val dir = sys.env.getOrElse("SFDIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.local("timen")
    args.foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, dir).write.mode("overwrite").format("noop").save() // warm codegen
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        q(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      val med =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(f"TIMEN $name median=$med%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
