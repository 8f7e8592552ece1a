package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: substring filter on query names, for fast
    // single-query iteration (the driver passes two args = run all)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [nameFilter]")
        sys.exit(2)
    }
    val spark = Dev.session(logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // filter = comma-separated substrings, any-match
    val fParts = nameFilter.map(_.split(',').toSeq.filter(_.nonEmpty))
    val selected = SparkEntry.queries
      .filter { case (name, _) => fParts.forall(_.exists(name.contains)) }
    // query name -> (exception class, message): a failed query has no
    // output dir, and _failures.json says why
    val failures = scala.collection.mutable.TreeMap.empty[String, (String, String)]
    selected.foreach { case (name, fn) =>
      // queries are self-contained: release the checkpoint blocks each
      // one created, so a 220-query dump doesn't accumulate
      // executor-storage pressure (same sweep as Bench)
      val before = Dev.persistedIds(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = (e.getClass.getName, String.valueOf(e.getMessage))
      }
      Dev.sweepBlocks(spark, before)
    }
    // every JSON string goes through Sink.jsonEscape — a tab or CR in
    // an oracle's SQL would otherwise make a reader's json.load fail
    def q(s: String): String = "\"" + graft.io.Sink.jsonEscape(s) + "\""
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, (cls, msg)) =>
        s"${q(k)}: {${q("class")}: ${q(cls)}, ${q("message")}: ${q(msg)}}"
      }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => fParts.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    println(s"[verify] done: ${selected.size} queries, " +
      s"${failures.size} failed -> $outDir")
  }
}
