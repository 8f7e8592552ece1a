package graft

/** Dev tool (optimization rounds): run selected queries through the
  * noop sink and capture EVERY action's executed plan
  * ([[graft.obs.Plans.capture]]) — including the eager per-round
  * checkpoint and count actions inside iterative operators, which are
  * invisible to `explain` on the returned frame (it only shows the
  * final checkpoint scan + orderBy). Plans are deduplicated by their
  * formatted text with RDD/plan ids normalized out, so a 40-round loop
  * prints each distinct per-round shape once with a repeat count —
  * exactly the evidence `plans/rNN/` needs for join-strategy and
  * exchange-count claims.
  * Usage: runMain graft.PlanTrace <sfDir> <query prefixes...>
  */
object PlanTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => args.drop(1).exists(n.startsWith))
    val spark = Dev.session()
    // ids differ per run/round but the SHAPE is what the evidence
    // pins: normalize expression ids (#123), plan ids, rdd ids and
    // statistics digits so identical round plans dedupe
    def normalize(s: String): String =
      s.replaceAll("#\\d+", "#_")
        .replaceAll("\\bid=#?\\d+", "id=_")
        .replaceAll("\\[id=#?\\d+\\]", "[id=_]")
        .replaceAll("ExistingRDD\\[\\d+\\]", "ExistingRDD[_]")
        .replaceAll("Scan ExistingRDD rdd_\\d+", "Scan ExistingRDD rdd__")
        .replaceAll("\\(\\d+\\)", "(_)")
    Dev.warmTables(spark, sfDir)
    names.foreach { n =>
      println(s"\n######## $n ########")
      val plans = graft.obs.Plans.capture(spark) {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      // (first action name, first text, count) per normalized shape
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[String, (String, String, Int)]
      plans.foreach { case (fn, txt) =>
        val key = normalize(txt)
        val (f, t, c) = seen.getOrElse(key, (fn, txt, 0))
        seen(key) = (f, t, c + 1)
      }
      seen.values.zipWithIndex.foreach { case ((fn, txt, c), i) =>
        println(s"\n===== $n action ${i + 1} ($fn, x$c) =====")
        println(txt)
      }
    }
    spark.stop()
  }
}
