package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (perf rounds): run selected queries once through the noop
  * sink with a listener that prints one line per Spark JOB — wall
  * time, stage count, task count, shuffle read/write bytes. Iterative
  * operators surface as one job per eager checkpoint, so this splits a
  * query's total into edge-build / per-round / final-action parts —
  * the decomposition the bench's single per-query number can't give.
  * Usage: runMain graft.Profile <sfDir> <query substrings...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.drop(1).exists(n.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var t0 = Map.empty[Int, Long]
    @volatile var site = Map.empty[Int, String]
    // stage metrics keyed by the stage's JOB (r17 ADVICE: a shared -1
    // key let stray warm-pass stages land on the first timed job)
    @volatile var stageJob = Map.empty[Int, Int]
    @volatile var stages = Map.empty[Int, (Long, Long, Long, Long)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        t0 += j.jobId -> System.nanoTime()
        site += j.jobId -> j.stageInfos.lastOption.map(_.name).getOrElse("?")
        j.stageInfos.foreach(s => stageJob += s.stageId -> j.jobId)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val tm = s.stageInfo.taskMetrics
        stageJob.get(s.stageInfo.stageId).foreach { jid =>
          if (tm != null) {
            val cur = stages.getOrElse(jid, (0L, 0L, 0L, 0L))
            stages += jid -> (cur._1 + s.stageInfo.numTasks,
              cur._2 + tm.shuffleWriteMetrics.bytesWritten,
              cur._3 + tm.shuffleReadMetrics.totalBytesRead,
              cur._4 + tm.executorRunTime)
          }
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val dt = (System.nanoTime() - t0.getOrElse(j.jobId, 0L)) / 1e6
        val (tk, sw, sr, rt) = stages.getOrElse(j.jobId, (0L, 0L, 0L, 0L))
        stages -= j.jobId
        println(f"[job] id=${j.jobId}%3d wall=${dt}%8.1fms tasks=$tk%5d " +
          f"shufW=${sw / 1048576.0}%8.2fMB shufR=${sr / 1048576.0}%8.2fMB " +
          f"taskT=${rt}%6dms at=${site.getOrElse(j.jobId, "?")}%s")
      }
    }
    // warm the scan + shuffle machinery once so job timings aren't
    // dominated by lazy init on the first query
    Tables.all.foreach(t =>
      Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save())
    names.foreach { n =>
      println(s"\n===== $n =====")
      // one untimed warm pass (JIT + page cache), then the listened pass
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.sparkContext.addSparkListener(listener)
      val q0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - q0) / 1e9
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"[total] $n ${dt}%.2fs")
    }
    spark.stop()
  }
}
