package graftbench

import scala.collection.mutable

import org.apache.spark.{ListenerBusSettle, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Spark work counted for one job group. */
final case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        failedTasks: Long = 0, taskMs: Long = 0, cpuNs: Long = 0,
                        gcMs: Long = 0, spillBytes: Long = 0,
                        shuffleWriteBytes: Long = 0, inputRecords: Long = 0) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, taskMs + o.taskMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, spillBytes + o.spillBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, inputRecords + o.inputRecords)

  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""task_s":${taskMs / 1e3},"cpu_s":${cpuNs / 1e9},"gc_s":${gcMs / 1e3},""" +
      s""""spill_mb":${spillBytes / Meter.MB},"shuffle_mb":${shuffleWriteBytes / Meter.MB},""" +
      s""""input_records":$inputRecords"""
}

/** Attributes every stage and task to the job group it was submitted
  * under (the `spark.jobGroup.id` property Spark stamps on each stage),
  * and tracks the bytes held by cached and checkpointed RDD blocks.
  * Readers call [[settle]] first, so every event of a finished job has
  * been counted and none can leak into the next job's group. */
final class Meter(sc: SparkContext) extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val blocks = mutable.Map.empty[RDDBlockId, Long]
  private var stored = 0L
  private var jobPeak = 0L
  private var spanPeak = 0L

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def add(group: String, t: Totals): Unit =
    byGroup(group) = byGroup.getOrElse(group, Totals()) + t

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(groupOf(e.properties), Totals(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    add(g, Totals(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "")
    val failed = if (e.reason == Success) 0L else 1L
    val m = e.taskMetrics
    add(g, if (m == null) Totals(tasks = 1, failedTasks = failed)
    else Totals(tasks = 1, failedTasks = failed, taskMs = m.executorRunTime,
      cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      inputRecords = m.inputMetrics.recordsRead))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId =>
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        stored += size - blocks.getOrElse(id, 0L)
        if (size > 0) blocks(id) = size else blocks.remove(id)
        jobPeak = math.max(jobPeak, stored)
        spanPeak = math.max(spanPeak, stored)
      case _ => ()
    }
  }

  // unpersist drops blocks without a block update; this event marks it
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = blocks.keys.filter(_.rddId == e.rddId).toList
    gone.foreach(id => stored -= blocks.remove(id).getOrElse(0L))
  }

  def settle(): Unit = ListenerBusSettle(sc)

  /** Work of `group` and of every group nested under it (`group/...`). */
  def totals(group: String): Totals = synchronized {
    byGroup.collect {
      case (g, t) if g == group || g.startsWith(group + "/") => t
    }.foldLeft(Totals())(_ + _)
  }

  def resetJobPeak(): Unit = synchronized { jobPeak = stored }
  def resetSpanPeak(): Unit = synchronized { spanPeak = stored }
  def jobPeakMb: Double = synchronized(jobPeak / Meter.MB)
  def spanPeakMb: Double = synchronized(spanPeak / Meter.MB)
}

object Meter {
  val MB: Double = 1024.0 * 1024.0

  /** Bytes held by RDDs that are still registered as persisted. */
  def persistedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
}
