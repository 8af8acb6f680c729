package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Wall clock shared by harness spans and Spark's listener events: epoch
  * milliseconds with sub-millisecond precision, anchored once to
  * `currentTimeMillis` (the clock Spark stamps job and stage events with)
  * and advanced by `nanoTime`. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** Bytes held in Spark storage (memory plus disk) by cached RDD blocks,
  * from block-update events. Always registered: it feeds the end-to-end
  * `peak_cached_mb`, so it stays cheap (one map update per block event). */
final class StorageWatcher extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var current = 0L
  private var peakBytes = 0L
  private var peakBlockCount = 0

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      current -= blocks.getOrElse(id, 0L)
      if (info.storageLevel.isValid) {
        val bytes = info.memSize + info.diskSize
        blocks(id) = bytes
        current += bytes
      } else blocks.remove(id)
      peakBytes = math.max(peakBytes, current)
      peakBlockCount = math.max(peakBlockCount, blocks.size)
    }
  }

  // Unpersisting removes an RDD's blocks without a block update per block.
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList.foreach { id =>
      current -= blocks.remove(id).getOrElse(0L)
    }
  }

  /** Start a new peak window from what is held right now. */
  def resetPeak(): Unit = synchronized {
    peakBytes = current
    peakBlockCount = blocks.size
  }
  def peak: (Long, Int) = synchronized((peakBytes, peakBlockCount))
}

/** The traced run's recorder: Spark jobs and stages (with task-metric
  * sums per stage) from the listener bus, and each action's planning time
  * (the sum of its phases) from a QueryExecutionListener. Everything stays
  * in memory until the run ends; the harness writes it out with the pass
  * and operation spans it records itself. */
final class Recorder extends SparkListener with QueryExecutionListener {

  final class StageAcc(val stageId: Int, val attempt: Int) {
    var jobId: Int = -1
    var submitMs: Double = 0
    var completeMs: Double = 0
    var numTasks = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spillDisk = 0L
    var inBytes = 0L
    var inRecords = 0L
    var outBytes = 0L
    var outRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAcc]
  private val planningMs = mutable.ArrayBuffer.empty[Double]

  private def stage(id: Int, attempt: Int): StageAcc =
    stages.getOrElseUpdate((id, attempt), new StageAcc(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    jobs(e.jobId) = mutable.Map(
      "job_id" -> e.jobId, "start_ms" -> e.time.toDouble, "end_ms" -> null,
      "group" -> prop("spark.jobGroup.id"),
      "description" -> prop("spark.job.description"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stage(info.stageId, info.attemptNumber())
    s.jobId = stageToJob.getOrElse(info.stageId, -1)
    s.submitMs = info.submissionTime.getOrElse(0L).toDouble
    s.completeMs = info.completionTime.getOrElse(0L).toDouble
    s.numTasks = info.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spillDisk += m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Everything recorded so far, as JSON-ready values. */
  def dump(): Map[String, Any] = synchronized {
    def median(xs: Seq[Long]): Double =
      if (xs.isEmpty) 0.0 else {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2).toDouble
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
      }
    Map(
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.toSeq.map { s =>
        Map(
          "stage_id" -> s.stageId, "attempt" -> s.attempt, "job_id" -> s.jobId,
          "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs,
          "num_tasks" -> s.numTasks,
          "task_max_ms" -> (if (s.durations.isEmpty) 0.0 else s.durations.max.toDouble),
          "task_median_ms" -> median(s.durations.toSeq),
          "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "shuffle_write_bytes" -> s.shuffleWrite, "spill_disk_bytes" -> s.spillDisk,
          "input_bytes" -> s.inBytes, "input_records" -> s.inRecords,
          "output_bytes" -> s.outBytes, "output_records" -> s.outRecords)
      },
      "planning_ms" -> planningMs.toSeq)
  }
}
