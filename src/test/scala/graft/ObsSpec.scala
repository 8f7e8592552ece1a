package graft

import graft.obs.{Collector, Metrics}
import org.apache.spark.sql.GraftSqlBridge.drainListenerBus
import org.apache.spark.sql.functions._

/** Pins the dev mains' one metrics listener ([[graft.obs.Collector]]):
  * job records split cleanly at a bus drain, shuffle bytes land on the
  * queries that shuffle, and the cumulative totals are the sum of the
  * job records. */
class ObsSpec extends SparkSpec {
  private def withCollector[T](body: Collector => T): T = {
    drainListenerBus(spark) // no earlier suite's events reach it
    val c = new Collector(keepJobs = true)
    spark.sparkContext.addSparkListener(c)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }

  /** `body`'s jobs under job group `g`, bus drained. */
  private def inGroup(g: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g)
    try body finally sc.clearJobGroup()
    drainListenerBus(spark)
  }

  private def shuffled(): Unit =
    spark.range(0L, 20000L, 1L, 4).groupBy(col("id") % 7).count().collect()

  test("two queries with a drain between them get disjoint job records") {
    withCollector { c =>
      inGroup("obs-a")(shuffled())
      val a = c.takeJobs()
      inGroup("obs-b")(spark.range(0L, 500L, 1L, 2).filter(col("id") > 3L).collect())
      val b = c.takeJobs()
      val tracker = spark.sparkContext.statusTracker
      assert(a.nonEmpty && b.nonEmpty)
      assert(a.map(_.id).toSet == tracker.getJobIdsForGroup("obs-a").toSet)
      assert(b.map(_.id).toSet == tracker.getJobIdsForGroup("obs-b").toSet)
      assert(a.map(_.id).intersect(b.map(_.id)).isEmpty)
    }
  }

  test("a shuffle reports written bytes and tasks; a shuffle-free scan reports none") {
    withCollector { c =>
      val m0 = c.totals
      shuffled()
      drainListenerBus(spark)
      val m1 = c.totals
      spark.range(0L, 500L, 1L, 2).filter(col("id") > 3L).collect()
      drainListenerBus(spark)
      val shuffle = m1 - m0
      val scan = c.totals - m1
      assert(shuffle.shuffleWrite > 0L && shuffle.shuffleRead > 0L, shuffle)
      assert(shuffle.tasks > 0L, shuffle)
      assert(scan.tasks > 0L, scan)
      assert(scan.shuffleWrite == 0L && scan.shuffleRead == 0L, scan)
      // the peak is one stage's write, never more than the query's sum
      assert(c.peakStageShuffleWrite > 0L &&
        c.peakStageShuffleWrite <= shuffle.shuffleWrite)
    }
  }

  test("cumulative totals equal the sum of the job records") {
    withCollector { c =>
      shuffled()
      spark.range(0L, 500L, 1L, 2).filter(col("id") > 3L).collect()
      shuffled()
      drainListenerBus(spark)
      val jobs = c.takeJobs()
      assert(jobs.size >= 3)
      assert(jobs.map(_.metrics).foldLeft(Metrics.zero)(_ + _) == c.totals)
      assert(jobs.forall(j => j.wallMs >= 0.0 && j.site.nonEmpty))
    }
  }
}
