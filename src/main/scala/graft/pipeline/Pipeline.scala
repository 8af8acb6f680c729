package graft.pipeline

import graft.engine.Codegen
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Batch-pipeline orchestration (SURVEY §2.13): named pipelines with
  * explicit dependencies, topological execution, fail-fast with elapsed
  * logging — the reference's `main.py` dispatch re-expressed as a DAG
  * instead of a hand-maintained call order, so "municipalities before
  * companies" is declared, not implied by line order.
  */
final case class PipelineContext(spark: SparkSession)

trait Pipeline {
  def name: String
  def dependsOn: Seq[String] = Nil
  /** Which module this pipeline belongs to (core/auac/cronos/poa-style
    * selection, `main.py:26-31`). */
  def module: String = "core"
  def run(ctx: PipelineContext): Unit
}

object Runner {

  final case class Result(name: String, elapsedMs: Long)

  /** Deterministic topological order (stable by declaration order among
    * ready pipelines); throws on unknown deps or cycles. */
  def order(pipelines: Seq[Pipeline]): Seq[Pipeline] = {
    val dupes = pipelines.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty,
      s"duplicate pipeline names (one would be silently dropped): ${dupes.mkString(", ")}")
    val byName = pipelines.map(p => p.name -> p).toMap
    pipelines.foreach(p => p.dependsOn.foreach(d =>
      require(byName.contains(d), s"pipeline '${p.name}' depends on unknown '$d'")))
    val done = mutable.LinkedHashSet.empty[String]
    val remaining = mutable.ArrayBuffer(pipelines: _*)
    while (remaining.nonEmpty) {
      val ready = remaining.filter(_.dependsOn.forall(done.contains))
      require(ready.nonEmpty,
        s"dependency cycle among: ${remaining.map(_.name).mkString(", ")}")
      ready.foreach { p => done += p.name; remaining -= p }
    }
    done.toSeq.map(byName)
  }

  /** The pipelines a run of `modules` ("all" or a set) runs, in run
    * order. A selection that severs the DAG is refused: a selected pipeline
    * whose dependency was filtered out would run against missing/stale
    * upstream data with nothing surfacing it. */
  def select(pipelines: Seq[Pipeline], modules: Set[String]): Seq[Pipeline] = {
    val selected = order(pipelines).filter(p =>
      modules.contains("all") || modules.contains(p.module))
    val selectedNames = selected.map(_.name).toSet
    selected.foreach(p => p.dependsOn.foreach(d =>
      require(selectedNames.contains(d),
        s"pipeline '${p.name}' (module '${p.module}') depends on '$d', " +
          s"which the module selection $modules excludes")))
    selected
  }

  /** Run the selected modules ([[select]]), fail-fast (first error
    * aborts, matching main.py:65-71), logging elapsed time and codegen
    * compiles per pipeline —
    * through the timestamped [[RunLog]] when one is supplied (the
    * reference's console+file dual sink), else silently (callers print
    * the returned results).
    *
    * Every pipeline runs without generated code ([[Codegen.interpreted]]),
    * upload jobs and `$out` read-backs included; the loop below runs one
    * pipeline at a time, which that session-wide setting requires. A
    * migration builds each plan once over a few thousand rows, so the
    * Janino compiles of its plans cost more than generated code saves: on
    * the benchmark's inputs they were 190 compile units and 7-11 s of a
    * 26-37 s cold pass. Compiled and interpreted runs were compared per
    * pipeline on inputs of 6.2 to 110 MiB (README "Scale posture"): the
    * pass was no slower interpreted at any of them, although from 21.7 MiB
    * up the pipelines over the largest tables were. */
  def run(
      ctx: PipelineContext,
      pipelines: Seq[Pipeline],
      modules: Set[String] = Set("all"),
      log: Option[RunLog] = None): Seq[Result] = {
    select(pipelines, modules).map { p =>
      val t0 = System.nanoTime()
      val codegen0 = Codegen.count()
      ctx.spark.sparkContext.setJobDescription(s"pipeline:${p.name}")
      log.foreach(_.info(s"Starting pipeline '${p.name}' (module ${p.module})"))
      try {
        Codegen.interpreted(ctx.spark)(p.run(ctx))
        val ms = (System.nanoTime() - t0) / 1000000
        ctx.spark.sparkContext.setJobDescription(null)
        // Pipelines run one at a time, so the JVM-wide compile counters'
        // delta is this pipeline's own codegen cost.
        val codegen = Codegen.count() - codegen0
        log.foreach(_.info(s"Completed pipeline '${p.name}' in ${ms} ms " +
          s"(codegen: ${codegen.compiles} compiles, ${codegen.ms} ms)"))
        Result(p.name, ms)
      } catch {
        case e: Throwable =>
          val ms = (System.nanoTime() - t0) / 1000000
          log.foreach(_.error(s"Pipeline '${p.name}' failed after ${ms} ms: ${e.getMessage}"))
          throw new RuntimeException(
            s"pipeline '${p.name}' failed after ${ms}ms: ${e.getMessage}", e)
      }
    }
  }
}
