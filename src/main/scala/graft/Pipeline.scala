package graft

import graft.dsl.Calc
import graft.io.Sink
import graft.ops.TimeResample
import graft.ops.TimeResample.{ClosedRight, Fixed, Monthly, Yearly}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end task executor — the Spark re-expression of the
  * reference's per-file worker (mopper.py process_row → mop_process
  * 175-351): scan with column pruning + time-range predicate, evaluate
  * the catalog calculation, optionally time-resample, write DRS output,
  * record status.
  *
  * One [[Task]] = one output file family = one self-contained lazy
  * DataFrame pipeline; Spark's scheduler replaces the reference's
  * process pool, and every step (scan pruning, predicate pushdown,
  * codegen'd calc, single-shuffle resample) is Catalyst-visible.
  */
object Pipeline {

  final case class Task(
      id: String,
      inputVars: Seq[String],      // raw column names, bound to var[i]
      calculation: String,         // "" = passthrough of var[0]
      resample: String,            // "" = none; else "6hr"|"day"|"mon"|"yr"
      timeshot: String,            // mean|min|max|sum for the resample
      tstartUs: Long, tendUs: Long,
      key: Sink.DrsKey,
      attrs: Map[String, String])

  private def resampleFreq(f: String): TimeResample.Freq = f match {
    case "1hr" => Fixed(3600)
    case "6hr" => Fixed(21600)
    case "day" => Fixed(86400)
    case "mon" => Monthly
    case "yr"  => Yearly
    case other => throw new IllegalArgumentException(s"unknown resample '$other'")
  }

  /** Build the lazy result frame for a task over a raw long-format input
    * with a `time` timestamp column and the task's input variable
    * columns. Selects only what it needs (column pruning) and applies
    * the time-range predicate (pushdown). */
  def frame(raw: DataFrame, task: Task, keys: Seq[String] = Seq.empty): DataFrame = {
    // range literals take the time column's own flavor (TIMESTAMP or
    // TIMESTAMP_NTZ, depending on the parquet writer) — the cast folds
    // into a literal, so the predicate still pushes to the scan; a
    // mixed-flavor comparison would die at analysis time instead
    val timeType = raw.schema("time").dataType
    def tlit(us: Long) = timestamp_micros(lit(us)).cast(timeType)
    val pruned = raw
      .select((("time" +: keys) ++ task.inputVars).distinct.map(col): _*)
      .filter(col("time") >= tlit(task.tstartUs) &&
              col("time") < tlit(task.tendUs))
    val vars: Seq[Column] = task.inputVars.map(col)
    val calced =
      if (task.calculation.isEmpty) pruned.withColumn("value", vars.head)
      else pruned.withColumn("value", Calc.compile(task.calculation, vars))
    if (task.resample.isEmpty)
      calced.select((("time" +: keys).map(col) :+ col("value")): _*)
    else
      TimeResample.resample(calced, col("time"), keys.map(col), col("value"),
          resampleFreq(task.resample), ClosedRight, Seq(task.timeshot))
        .withColumnRenamed(task.timeshot, "value")
        .withColumnRenamed("label", "time")
  }

  /** Execute: materialize the task frame into the task slice's
    * partition of the DRS layout, append status, return the variable's
    * output directory. Failures are recorded, not
    * thrown — per-task isolation like the reference's pool
    * (mopper.py:416-433). */
  def run(spark: SparkSession, raw: DataFrame, task: Task, root: String,
      keys: Seq[String] = Seq.empty): Either[String, String] =
    try {
      // each planner slice owns its own `period` partition of the
      // variable's directory, so slices never overwrite each other
      val period = Sink.periodOf(task.tstartUs, task.tendUs)
      val dir = Sink.writeDrs(frame(raw, task, keys), root, task.key,
        period, task.attrs)
      // the status row's count comes from the footers of the files the
      // write just committed into the slice's partition: no data is
      // re-read, and an empty slice leaves no partition and counts 0
      val n = Sink.footerRows(spark, s"$dir/period=$period")
      Sink.appendStatus(spark, s"$root/_status", task.id, "processed", n)
      Right(dir)
    } catch {
      case e: Exception =>
        Sink.appendStatus(spark, s"$root/_status", task.id,
          s"failed: ${e.getClass.getSimpleName}", 0L)
        Left(e.getMessage)
    }
}
