package graft.obs

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Executor-side numbers summed over completed stages: task count,
  * executor run time (ms), shuffle write/read bytes, disk spill bytes. */
final case class Metrics(tasks: Long, runTimeMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long) {
  def +(o: Metrics): Metrics = Metrics(tasks + o.tasks,
    runTimeMs + o.runTimeMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill)
  def -(o: Metrics): Metrics = Metrics(tasks - o.tasks,
    runTimeMs - o.runTimeMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill)
}
object Metrics { val zero: Metrics = Metrics(0L, 0L, 0L, 0L, 0L) }

/** One finished Spark job: wall time between its start and end events,
  * the call site (its last stage's name) and its stages' [[Metrics]]. */
final case class JobRecord(id: Int, wallMs: Double, site: String,
    metrics: Metrics)

/** The dev mains' one metrics listener. Every completed stage adds to
  * the cumulative [[totals]], to the running per-stage shuffle-write
  * peak, and to the job that submitted it; a job's record is kept at
  * its end event when `keepJobs` is set. Listener delivery is async:
  * read only after `GraftSqlBridge.drainListenerBus`. Library code never
  * registers one, so the task path pays nothing. */
final class Collector(keepJobs: Boolean = false) extends SparkListener {
  // job id -> (start ms, call site, stage ids)
  private var jobStart = Map.empty[Int, (Long, String, Seq[Int])]
  // a stage maps to the LAST job that lists it (r17 ADVICE: a shared
  // key let stray warm-pass stages land on the first timed job)
  private var stageJob = Map.empty[Int, Int]
  private var perJob = Map.empty[Int, Metrics]
  private var total = Metrics.zero
  private var peak = 0L
  private val done = scala.collection.mutable.ArrayBuffer.empty[JobRecord]

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStart += j.jobId -> ((j.time,
      j.stageInfos.lastOption.map(_.name).getOrElse("?"), j.stageIds))
    j.stageInfos.foreach(s => stageJob += s.stageId -> j.jobId)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    synchronized {
      val tm = s.stageInfo.taskMetrics
      if (tm != null) {
        val m = Metrics(s.stageInfo.numTasks, tm.executorRunTime,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.shuffleReadMetrics.totalBytesRead, tm.diskBytesSpilled)
        total += m
        peak = math.max(peak, m.shuffleWrite)
        stageJob.get(s.stageInfo.stageId).foreach { jid =>
          perJob += jid -> (perJob.getOrElse(jid, Metrics.zero) + m)
        }
      }
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    val (t0, site, stages) = jobStart.getOrElse(j.jobId, (j.time, "?", Nil))
    if (keepJobs)
      done += JobRecord(j.jobId, (j.time - t0).toDouble, site,
        perJob.getOrElse(j.jobId, Metrics.zero))
    jobStart -= j.jobId
    stageJob --= stages.filter(stageJob.get(_).contains(j.jobId))
    perJob -= j.jobId
  }

  /** Cumulative metrics of every stage completed since registration. */
  def totals: Metrics = synchronized(total)

  /** Largest single-stage shuffle write since the last [[markPeak]]. */
  def peakStageShuffleWrite: Long = synchronized(peak)
  def markPeak(): Unit = synchronized { peak = 0L }

  /** The job records finished since the previous call (`keepJobs`). */
  def takeJobs(): Seq[JobRecord] = synchronized {
    val out = done.toList; done.clear(); out
  }
}
