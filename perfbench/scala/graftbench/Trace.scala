package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBenchBridge
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** A timed interval at a layer boundary. Times are nanoseconds since the
  * run's epoch; `parent` 0 means "no recorded parent" (engine spans get
  * theirs from interval containment when the dump is written). */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "name" -> name, "op" -> op, "start_ns" -> startNs, "end_ns" -> endNs,
    "attrs" -> attrs)
}

/** Spans the benchmark opens around its own calls into the program. They
  * stay in memory and are written out with the run's result. When `on`
  * is false, [[span]] is a direct call. Single-threaded by design: one
  * submitting thread drives every operation. */
final class Tracer {
  val epochNs: Long = System.nanoTime()
  val epochMs: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  var on = false
  var op = ""
  private var nextId = 1
  private var open: List[Int] = Nil

  def newId(): Int = { val id = nextId; nextId += 1; id }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        spans += Span(id, parent, name, op, t0 - epochNs, t1 - epochNs, Map.empty)
      }
    }

  /** Listener event time (epoch ms) on the span clock. */
  def fromEventMs(ms: Long): Long = (ms - epochMs) * 1000000L
}

/** Plan traversal that also walks into adaptive query stages, where a
  * write below a shuffle ends up. */
private object PlanWalk extends AdaptiveSparkPlanHelper

/** The benchmark's one Spark listener: scheduler and executor counters
  * (cumulative; the runner takes per-pass deltas after draining the
  * bus) plus, per SQL execution and job, the records that become engine
  * spans. Each SQL execution is attributed to `io.write` or `io.status`
  * by the `Sink.writeDrs` / `Sink.appendStatus` frame in its call site. */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks, taskMs, inputRows, shuffleWrite, shuffleRead,
      spill = new AtomicLong(0L)

  final case class SqlRec(id: Long, root: Long, op: String, layer: String,
      startMs: Long, var endMs: Long = -1L, var planMs: Long = 0L,
      var files: Long = 0L, var bytes: Long = 0L, var rows: Long = 0L)
  final case class JobRec(id: Int, op: String, sql: Long, startMs: Long,
      var endMs: Long = -1L)

  val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]

  /** Layer of an SQL execution, read from its call site. */
  def layerOf(details: String): String =
    if (details.contains("Sink$.writeDrs")) "io.write"
    else if (details.contains("Sink$.appendStatus")) "io.status"
    else "engine.sql"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    synchronized {
      jobRecs(e.jobId) = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobRecs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      inputRows.addAndGet(m.inputMetrics.recordsRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls(s.executionId) = SqlRec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId),
        s.jobGroupId.getOrElse(""), layerOf(s.details), s.time)
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(x.executionId).foreach { r =>
        r.endMs = x.time
        val qe = GraftBenchBridge.queryExecution(x)
        if (qe != null) {
          r.planMs = qe.tracker.phases.values.map(_.durationMs).sum
          PlanWalk.collectFirst(qe.executedPlan) { case w: DataWritingCommandExec => w.metrics }
            .foreach { m =>
              def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
              r.files = v("numFiles"); r.bytes = v("numOutputBytes"); r.rows = v("numOutputRows")
            }
        }
      }
    }
    case _ =>
  }

  def counters: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "task_ms" -> taskMs.get, "input_rows" -> inputRows.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get)

  /** Turn the records gathered so far into engine spans and forget them.
    * Nested SQL executions hang under their root execution, jobs under
    * their SQL execution. */
  def flushSpans(tr: Tracer): Seq[Span] = synchronized {
    val sqlIds = sqls.keys.map(_ -> tr.newId()).toMap
    val sqlSpans = sqls.values.toSeq.filter(_.endMs >= 0).map { r =>
      val parent = if (r.root != r.id) sqlIds.getOrElse(r.root, 0) else 0
      Span(sqlIds(r.id), parent, r.layer, r.op, tr.fromEventMs(r.startMs),
        tr.fromEventMs(r.endMs), Map("execution" -> r.id, "root" -> (r.root == r.id),
          "plan_ms" -> r.planMs, "files" -> r.files, "bytes" -> r.bytes, "rows" -> r.rows))
    }
    val jobSpans = jobRecs.values.toSeq.filter(_.endMs >= 0).map { j =>
      Span(tr.newId(), sqlIds.getOrElse(j.sql, 0), "engine.job", j.op,
        tr.fromEventMs(j.startMs), tr.fromEventMs(j.endMs), Map("job" -> j.id))
    }
    sqls.clear(); jobRecs.clear()
    sqlSpans ++ jobSpans
  }
}
