package graft

/** Dev tool: dump `explain("formatted")` for selected queries (or all)
  * to stdout — the plan-audit loop for pushdown/broadcast/codegen checks.
  * Usage: runMain graft.Explain <sfDir> [query names...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Dev.session()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
