package graft

/** Dev tool (perf rounds): run selected queries once through the noop
  * sink and print one line per Spark JOB from the [[graft.obs.Collector]]
  * — wall time, task count, shuffle read/write bytes, executor time.
  * Iterative operators surface as one job per eager checkpoint, so
  * this splits a query's total into edge-build / per-round /
  * final-action parts — the decomposition the bench's single per-query
  * number can't give.
  * Usage: runMain graft.Profile <sfDir> <query substrings...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.drop(1).exists(n.startsWith))
    val spark = Dev.session()
    // warm the scan + shuffle machinery once so job timings aren't
    // dominated by lazy init on the first query
    Dev.warmTables(spark, sfDir)
    val obs = new graft.obs.Collector(keepJobs = true)
    spark.sparkContext.addSparkListener(obs)
    val mb = 1048576.0
    names.foreach { n =>
      println(s"\n===== $n =====")
      // one untimed warm pass (JIT + page cache), then the listened pass
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      obs.takeJobs()
      val q0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - q0) / 1e9
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      obs.takeJobs().foreach { j =>
        val m = j.metrics
        println(f"[job] id=${j.id}%3d wall=${j.wallMs}%8.1fms tasks=${m.tasks}%5d " +
          f"shufW=${m.shuffleWrite / mb}%8.2fMB shufR=${m.shuffleRead / mb}%8.2fMB " +
          f"taskT=${m.runTimeMs}%6dms at=${j.site}%s")
      }
      println(f"[total] $n ${dt}%.2fs")
    }
    spark.stop()
  }
}
