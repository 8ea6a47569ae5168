package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-stage totals of the task metrics the per-layer counters read. */
final class StageStats(val stageId: Int, val op: String) {
  var start = 0L
  var end = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inRecords = 0L
  var inBytes = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  /** max over median task run time: 1.0 when the stage's tasks are even. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      val med = math.max(s(s.size / 2), 1L)
      s.last.toDouble / med
    }
}

/** The benchmark's one listener. Jobs are attributed to the op whose
  * job group they ran under (each op runs under its own group, and
  * Spark carries the group to the threads an action spawns).
  *
  * Untraced passes only count jobs per op — the memo-hit guard needs
  * that count on every pass. With `full` on, it also keeps every
  * stage's interval and task metrics in memory; [[Main]] writes them
  * out as spans when the run ends. */
final class Trace(full: Boolean) extends SparkListener {
  private val jobs = mutable.Map.empty[String, Int]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageStats = mutable.Map.empty[(Int, Int), StageStats]
  private val done = mutable.Set.empty[Int]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("?")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = group(e.properties)
    jobs(op) = jobs.getOrElse(op, 0) + 1
    if (full) e.stageIds.foreach(id => stageOp(id) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    done += e.jobId
    notifyAll()
  }

  private def stats(stageId: Int, attempt: Int): StageStats =
    stageStats.getOrElseUpdate((stageId, attempt),
      new StageStats(stageId, stageOp.getOrElse(stageId, "?")))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (full) synchronized {
      val i = e.stageInfo
      val st = stats(i.stageId, i.attemptNumber())
      st.start = i.submissionTime.getOrElse(0L)
      st.end = i.completionTime.getOrElse(st.start)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (full && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      val st = stats(e.stageId, e.stageAttemptId)
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.inRecords += m.inputMetrics.recordsRead
      st.inBytes += m.inputMetrics.bytesRead
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.spillBytes += m.diskBytesSpilled
      st.taskMs += m.executorRunTime
    }

  /** Blocks until job `jobId` has ended. The bus delivers events in
    * order, so every event of the jobs before it has arrived too. */
  def awaitJob(jobId: Int, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!done.contains(jobId) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    done.contains(jobId)
  }

  def jobCounts: Map[String, Int] = synchronized(jobs.toMap)

  def stages: Seq[StageStats] = synchronized(stageStats.values.toSeq)
}
