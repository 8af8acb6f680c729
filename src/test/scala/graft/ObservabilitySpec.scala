package graft

import graft.io.ObjectStore
import graft.pipeline.{Pipeline, PipelineContext, RunLog, Runner}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's observability surface, re-expressed: a per-run
  * timestamped log file mirroring the console (`src/utils.py:48-67`) and
  * the upload throughput report (`src/core.py:990-995`), both driven
  * through the real Runner / ObjectStore paths.
  */
class ObservabilitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

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
    val compiling = new Pipeline {
      val name = "compiling"; override val dependsOn = Seq("idle")
      def run(ctx: PipelineContext): Unit =
        ctx.spark.range(4).selectExpr(s"id * 3 + $salt AS v").collect()
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

  test("uploadAndLog: files/sec line + stats over the real partitioned upload path") {
    val dir = tmpDir("runlog")
    val store = tmpDir("objstore")
    val log = RunLog.timestamped(dir, echo = false)
    val rows = (1 to 7).map(i =>
      (s"id$i", s"f$i.pdf", "application/pdf", Array.fill(10 + i)(i.toByte)))
      .toDF("id", "name", "mime", "payload")
    val (mapping, stats) = ObjectStore.uploadAndLog(
      rows, "bkt", () => new ObjectStore.LocalFsClient(store), Some(log))
    assert(stats.files == 7)
    assert(stats.bytes == (1 to 7).map(10L + _).sum)
    assert(stats.seconds > 0 && stats.filesPerSecond > 0)
    // mapping is persisted and re-readable without re-upload side effects
    assert(mapping.count() == 7)
    mapping.unpersist()
    log.close()
    val text = new String(java.nio.file.Files.readAllBytes(log.path))
    assert(text.matches(
      "(?s).*Completed upload of 7/7 files in \\d+\\.\\d{2} seconds \\(\\d+\\.\\d{2} files/sec\\).*"),
      text)
    // the objects actually landed, once each
    val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(store, "bkt"))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(landed == 7)
  }
}
