package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-step engine counters, keyed by the Spark job group the benchmark sets
  * to the step's span id before running it. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var fetchWaitMs = 0L
  var shuffleRows = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var cachePeakBytes = 0L
  /** (start ms, end ms, SQL execution id or -1, job id) per finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
  /** (stage id, job id, submitted ms, completed ms, tasks) per completed stage. */
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
}

/** Marks the start of a step on the listener bus, so block updates that
  * arrive after it are charged to that step's cache peak. */
final case class StepMark(group: String) extends SparkListenerEvent {
  override protected[spark] def logEvent: Boolean = false
}

/** Scheduler listener of the traced run. It lives in the `org.apache.spark`
  * namespace only to reach the listener bus's drain, so the counters are read
  * once per pass after the bus is empty instead of after a fixed sleep. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, (String, Int)]
  private val jobInfo = mutable.HashMap.empty[Int, (String, Long, Long)]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var current: String = null

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  def mark(group: String): Unit = sc.listenerBus.post(StepMark(group))

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  /** Counters of one job group; call after [[drain]]. */
  def take(group: String): GroupStats = synchronized {
    groups.remove(group).getOrElse(new GroupStats)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case StepMark(g) => synchronized { current = g; stats(g).cachePeakBytes = cached }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .getOrElse("none")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobInfo(e.jobId) = (g, e.time, exec)
    e.stageIds.foreach(stageGroup(_) = (g, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, start, exec) =>
      val s = stats(g)
      s.jobs += 1
      s.jobSpans += ((start, e.time, exec, e.jobId))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.remove(info.stageId).foreach { case (g, job) =>
      val s = stats(g)
      s.stages += 1
      s.stageSpans += ((info.stageId, job, info.submissionTime.getOrElse(0L),
        info.completionTime.getOrElse(0L), info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { case (g, _) =>
      val s = stats(g)
      s.tasks += 1
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        val info = e.taskInfo
        s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.shuffleRows += m.shuffleWriteMetrics.recordsWritten
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputRows += m.inputMetrics.recordsRead
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val size = b.memSize + b.diskSize
      cached += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      if (current != null) {
        val s = stats(current)
        s.cachePeakBytes = math.max(s.cachePeakBytes, cached)
      }
    }
  }
}
