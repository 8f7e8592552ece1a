package graft

import org.apache.spark.sql.SparkSession

/** Session, warm-up and block-sweep helpers shared by the dev mains
  * (Bench, Profile, PlanTrace, Explain, Verify). */
object Dev {
  /** `local[$SPARK_GRAFT_CPUS]` with one shuffle partition per core, UTC
    * (TimeEnc's NTZ→TZ cast is then value-identity whatever the host
    * JVM's zone — r7 advice: never rely on the host being UTC), no UI,
    * and MapPartitionsRDD's release warnings quieted — as is the window
    * operator's "No Partition Defined for Window operation" WARN, which
    * every single-partition window logs on each plan (561 lines in one
    * Verify pass at sf0.01); GlobalWindowAuditSpec pins every such
    * window to a bounded input, so the line buries real warnings. */
  def session(logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.ops.Iterate.quietReleaseWarnings()
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Materialize every table through the noop sink — a count() is
    * answered from parquet footers and never touches the row data, so
    * the first heavy query would still pay the cold columnar read +
    * decode (~1 s on lineitem at sf0.1). */
  def warmTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(t =>
      Tables(spark, dir, t).write.format("noop").mode("overwrite").save())

  /** getPersistentRDDs as an Option: None when the context is stopped
    * or the read fails — a sentinel that makes [[sweepBlocks]] a no-op
    * rather than an empty set that would sweep everything. */
  def persistedIds(spark: SparkSession): Option[Set[Int]] =
    try {
      if (spark.sparkContext.isStopped) None
      else Some(spark.sparkContext.getPersistentRDDs.keySet.toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Release every persisted RDD a query run created: the checkpoints
    * its result reads (which `Iterate.scope` keeps for the caller),
    * query-level cuts outside any scope, and bare one-shot
    * `localCheckpoint()` barriers. Queries are self-contained — no run
    * ever reads another run's blocks — and across 220 queries × 4–6
    * passes the accumulated blocks are executor-storage pressure,
    * eviction churn, and GC work (the r9 verdict's bimodal-tier-pass
    * suspect).
    *
    * No-throw: a query that OOM-killed the SparkContext must surface
    * as that query's failure, not as an IllegalStateException from the
    * cleanup path that then discards every already-measured row (the
    * r11 scale-section collapse — BENCH_DETAIL shipped one word).
    * `before = None` (the 'before' snapshot itself failed) makes the
    * sweep a no-op: guessing an empty before-set would unpersist every
    * live block, including warm caches that predate the query, and
    * distort every later pass (r12 advice). */
  def sweepBlocks(spark: SparkSession, before: Option[Set[Int]]): Unit =
    before.foreach { b =>
      try spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!b.contains(id)) rdd.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
}
