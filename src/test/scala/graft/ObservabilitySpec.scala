package graft

import graft.pipeline.{Pipeline, PipelineContext, RunLog, Runner}
import org.apache.spark.sql.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

/** The reference's observability surface, re-expressed: a per-run
  * timestamped log file mirroring the console (`src/utils.py:48-67`),
  * driven through the real Runner path.
  */
class ObservabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String) =
    GraftBridge.tempDir(prefix)

  test("RunLog: timestamped file under logs dir, asctime | LEVEL | message lines") {
    val dir = tmpDir("runlog")
    val log = RunLog.timestamped(dir, echo = false)
    log.info("hello pipeline")
    log.error("something failed")
    log.close()
    assert(log.path.getFileName.toString.matches("graft_etl_\\d{8}_\\d{6}\\.log"))
    val lines = java.nio.file.Files.readAllLines(log.path)
    assert(lines.size == 2)
    assert(lines.get(0).matches(
      "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2},\\d{3} \\| INFO \\| hello pipeline"))
    assert(lines.get(1).contains("| ERROR | something failed"))
  }

  test("Runner logs start/complete per pipeline and the failure line before fail-fast") {
    val dir = tmpDir("runlog")
    val log = RunLog.timestamped(dir, echo = false)
    val good = new Pipeline {
      val name = "ok"; def run(ctx: PipelineContext): Unit = ()
    }
    val bad = new Pipeline {
      val name = "boom"; override val dependsOn = Seq("ok")
      def run(ctx: PipelineContext): Unit = sys.error("kaput")
    }
    intercept[RuntimeException] {
      Runner.run(PipelineContext(spark), Seq(good, bad), Set("all"), Some(log))
    }
    log.close()
    val text = new String(java.nio.file.Files.readAllBytes(log.path))
    assert(text.contains("Starting pipeline 'ok'"))
    assert(text.contains("Completed pipeline 'ok' in "))
    assert(text.contains("Starting pipeline 'boom'"))
    assert(text.contains("| ERROR | Pipeline 'boom' failed after "))
  }

  test("Runner's completion line carries the pipeline's codegen compiles and compile ms") {
    val dir = tmpDir("runlog")
    val log = RunLog.timestamped(dir, echo = false)
    // a literal no other plan in the JVM has: one fresh compile unit at least
    val salt = System.nanoTime() % 1000000007L
    val idle = new Pipeline {
      val name = "idle"; def run(ctx: PipelineContext): Unit = ()
    }
    // Runner runs pipelines interpreted, so a plain query compiles nothing;
    // a generator with no interpreted fallback still compiles, as the
    // migration's own such operators do.
    val compiling = new Pipeline {
      val name = "compiling"; override val dependsOn = Seq("idle")
      def run(ctx: PipelineContext): Unit = {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
        GenerateUnsafeProjection.generate(Seq(Literal(salt)))
      }
    }
    val results = Runner.run(PipelineContext(spark), Seq(idle, compiling), Set("all"), Some(log))
    log.close()
    assert(results.map(_.name) == Seq("idle", "compiling"))
    val text = new String(java.nio.file.Files.readAllBytes(log.path))
    val completed =
      """Completed pipeline '(\w+)' in \d+ ms \(codegen: (\d+) compiles, (\d+) ms\)""".r
    val compiles = completed.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(compiles.keySet == Set("idle", "compiling"), text)
    assert(compiles("idle") == 0, text)
    assert(compiles("compiling") >= 1, text)
  }
}
