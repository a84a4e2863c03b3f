package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Scheduler counts of one job group (one phase of one operation). */
final class Counts {
  var jobs = 0L
  var jobMs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
}

/** Attributes jobs, stages and tasks to the job group that launched them
  * (`SparkContext.setJobGroup`, read back from the job's properties).
  * Callbacks run on the listener-bus thread; readers call
  * [[org.apache.spark.perfbench.Bus.drain]] first and then [[take]].
  */
final class Tracer extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  private def counts(g: String): Counts = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      counts(g).jobs += 1
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); t0 <- jobStart.remove(e.jobId))
      counts(g).jobMs += e.time - t0
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counts(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = counts(g)
      c.tasks += 1
      stageSubmitted.get(e.stageId).foreach(t => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultBytes += m.resultSize
      }
    }
  }

  /** Remove and return the counts of `group` (empty if it ran no job). */
  def take(group: String): Counts = synchronized(byGroup.remove(group).getOrElse(new Counts))
}
