package graft

import graft.engine.{Codegen, GraftSession}
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b restricts the dump (and the oracle json)
    // to named queries — the targeted re-gate loop, mirroring Bench's
    // SPARK_GRAFT_BENCH_ONLY. The driver sets neither, so its gate always
    // covers the full catalog.
    val only = SparkEntry.selected(sys.env.get, "SPARK_GRAFT_VERIFY_ONLY")
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val timings = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failed = queries.toSeq.flatMap { case (name, fn) =>
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // stderr timing line per query: the cheap way to spot a
        // pathological non-headline query at any SF (the driver parses
        // stdout only)
        val sec = (System.nanoTime() - t0) / 1e9
        timings += name -> sec
        System.err.println(f"[verify-timing] $name $sec%.2f s")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // one summary line for the build log: a d54-class heavy gate must be
    // visible the round it lands, not discovered in a later bench sweep
    System.err.println("[verify-timing-top10] " + timings.sortBy(-_._2).take(10)
      .map { case (n, s) => f"$n=$s%.2fs" }.mkString(" "))
    // The pass's codegen working set (compile units; each distinct unit
    // compiles once while the class cache holds it) and the Metaspace the
    // cached classes keep alive.
    val codegen = Codegen.count()
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .stream().filter(_.getName == "Metaspace").findFirst()
      .map[String](p => (p.getUsage.getUsed >> 20).toString).orElse("?")
    System.err.println(s"[verify-codegen] compiles=${codegen.compiles} " +
      s"compile_ms=${codegen.ms} cache_cap=${Codegen.cacheMaxEntries().getOrElse("?")} " +
      s"metaspace_used_mb=$metaspaceMb")
    // A query that errors writes no output and would silently vanish from
    // the driver's tally (the r7 TIMESTAMP_NTZ drift cost 9 queries this
    // way) — so the dump ends with an unmissable count line, and
    // AllQueriesExecuteSpec enforces zero-failures at sbt-test time.
    println(s"[verify] wrote ${queries.size - failed.size}/" +
      s"${queries.size} query outputs" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(", ")}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = only.fold(SparkEntry.oracleSql)(names =>
      SparkEntry.oracleSql.filter { case (n, _) => names(n) })
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
