package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Pipeline
import graft.catalog.Catalog
import graft.dsl.Calc
import graft.io.Sink
import graft.plans.Planner
import graft.queries.Registry
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftBenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one local Spark session, one submitting
  * thread, a closed loop over the workload's operations.
  *
  * Usage: `Runner <spec.json>`. The spec (written by perfbench/run.py)
  * names the workload, its generated inputs, the measuring window and
  * whether to trace. The runner sets up several times (a fresh session
  * and input scan each), runs the spec's warm-up passes, then its number
  * of measured passes, and writes every timing, counter and span to the
  * spec's result file. Output checks and statistics happen in Python. */
object Runner {

  final case class Op(id: String, family: String, body: () => Boolean)

  def main(args: Array[String]): Unit = {
    val spec = Json.read(args(0))
    new Runner(spec).run()
  }
}

final class Runner(spec: JsonNode) {
  import Runner.Op

  private val kind = spec.get("kind").asText
  private val cpus = spec.get("cpus").asInt
  private val traced = spec.get("trace").asBoolean
  private val inputs = Json.strings(spec.get("inputs"))
  private val work = spec.get("work").asText
  private val tr = new Tracer
  private val listener = new EngineListener
  private var spark: SparkSession = _

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Used heap after full collections. Spark's cleaner frees broadcast
    * and shuffle blocks only after a collection has found their owners
    * unreachable, so collect until the reading stops falling. */
  private def liveHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    System.gc()
    var last = used
    var rounds = 0
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(50)
      System.gc()
      val now = used
      falling = now < last - 1.0
      last = now
      rounds += 1
    }
    last
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scratch space stays inside the run's own directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.ops.Iterate.quietReleaseWarnings()
    s
  }

  // ---- the task path: catalog -> plan -> Pipeline.run per file slice ----

  private val taskSpec = spec.get("tasks")
  private val sqlFns: Map[String, Calc.SqlFn] = Calc.defaultSqlFns ++ Map(
    // SQL forms of the two reference formulas the default SQL registry
    // lacks (calculations.py tos_degC 968-983, sisnconc 740-753)
    "tos_degC" -> ((as: List[String], _: Map[String, String]) => s"(${as(0)} - 273.15e0)"),
    "sisnconc" -> ((as: List[String], _: Map[String, String]) =>
      s"(1.0e0 - exp(${as(0)} * -66.0e0))"))

  /** One pass of the task path into `root`: resolve the catalog, plan
    * each variable's files, then one operation per file slice. */
  private def taskPass(input: String, root: String, rec: mutable.Map[String, Any]): Seq[Op] = {
    val keys = Json.strings(taskSpec.get("keys"))
    val drs = taskSpec.get("drs")
    def d(k: String) = drs.get(k).asText
    val mappings = Json.nodes(taskSpec.get("mappings")).map { m =>
      def f(k: String) = m.get(k).asText
      Catalog.Mapping(f("cmorVar"), f("inputVars"), f("calculation"), f("units"),
        f("dimensions"), f("frequency"), f("realm"), f("cellMethods"), f("positive"),
        f("cmorTable"), f("model"))
    }
    val requests = Json.nodes(taskSpec.get("requests"))
    val raw = spark.read.parquet(s"$input/raw")
    val t0 = System.nanoTime()
    val resolved = tr.span("catalog.resolve") {
      val s = spark
      import s.implicits._
      val req = requests.map(r => (r.get("cmorVar").asText, r.get("frequency").asText))
        .toDF("cmorVar", "frequency")
      Catalog.resolve(req, Catalog.mappings(spark, mappings)).collect()
    }
    val t1 = System.nanoTime()
    val plans = requests.map { r =>
      val v = r.get("cmorVar").asText
      val freq = r.get("frequency").asText
      val row = resolved.find(x => x.getAs[String]("req_var") == v &&
          x.getAs[String]("req_freq") == freq)
        .getOrElse(sys.error(s"catalog did not resolve $v/$freq"))
      val plan = tr.span("plans.plan") {
        Planner.plan(taskSpec.get("start_us").asLong, taskSpec.get("end_us").asLong,
          taskSpec.get("mb_per_day").asDouble, taskSpec.get("max_size_mb").asDouble)
      }
      (r, row, plan)
    }
    val t2 = System.nanoTime()
    rec("resolve_s") = (t1 - t0) / 1e9
    rec("plan_s") = (t2 - t1) / 1e9
    rec("files_planned") = plans.map(_._3.nFiles).sum
    val described = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = plans.flatMap { case (r, row, plan) =>
      val v = r.get("cmorVar").asText
      val table = r.get("table").asText
      val vars = row.getAs[String]("inputVars").split("\\s+").toSeq
      val calc = row.getAs[String]("calculation")
      val resample = Option(row.getAs[String]("resample")).getOrElse("")
      val timeshot = r.get("timeshot").asText
      val key = Sink.DrsKey(d("activity"), d("institution"), d("source"),
        d("experiment"), d("member"), table, v, d("grid"), d("version"))
      plan.slices.map { s =>
        val task = Pipeline.Task(s"${v}_${table}_${s.index}", vars, calc, resample,
          timeshot, s.startUs, s.endUs, key,
          Map("units" -> row.getAs[String]("units"),
            "cell_methods" -> row.getAs[String]("cellMethods")))
        described += Map("id" -> task.id, "var" -> v, "table" -> table,
          "resample" -> resample, "timeshot" -> timeshot, "input_vars" -> vars,
          "calc_sql" -> Calc.compileSql(if (calc.isEmpty) "var[0]" else calc, vars, sqlFns),
          "start_us" -> s.startUs, "end_us" -> s.endUs, "drs_dir" -> Sink.drsPath(key))
        Op(task.id, "task", () => {
          // traced runs also time the lazy frame build on its own
          if (tr.on) tr.span("pipeline.frame") { Pipeline.frame(raw, task, keys) }
          tr.span("pipeline.run") { Pipeline.run(spark, raw, task, root, keys) }.isRight
        })
      }
    }
    rec("tasks") = described.toList
    ops
  }

  // ---- the operator query mix ----

  private lazy val queryNames = Json.nodes(spec.get("queries")).map(q =>
    (q.get("name").asText, q.get("family").asText))

  private def queryPass(input: String, checkDir: Option[String]): Seq[Op] =
    queryNames.map { case (name, family) =>
      Op(name, family, () => {
        val df: DataFrame = tr.span("queries.build") { Registry.runMap(name)(spark, input) }
        tr.span("queries.exec") {
          checkDir match {
            case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
            case None => df.write.format("noop").mode("overwrite").save()
          }
        }
        true
      })
    }

  // ---- passes ----

  /** Run one pass and return its record. Operation latencies are taken
    * around the body only; the persisted-RDD sweep, the heap reading and
    * the listener drain sit outside them. */
  private def pass(index: Int, input: String, root: String, checkDir: Option[String],
      tracedPass: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    tr.on = tracedPass
    if (tracedPass) sc.addSparkListener(listener)
    val c0 = listener.counters
    val gc0 = gcMs
    val rec = mutable.Map.empty[String, Any]
    val opsOut = mutable.ArrayBuffer.empty[Map[String, Any]]
    val leftovers = mutable.ArrayBuffer.empty[Int]
    var codegenNs, codegenN = 0L
    tr.op = s"pass$index"
    val p0 = System.nanoTime()
    tr.span("pass") {
      val ops = if (kind == "tasks") taskPass(input, root, rec) else queryPass(input, checkDir)
      ops.foreach { op =>
        val before = sc.getPersistentRDDs.keySet
        val cg0 = CodeGenerator.compileTime
        val cn0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        // spans and jobs carry "<pass>:<operation>": ids repeat every pass
        tr.op = s"$index:${op.id}"
        if (tracedPass) sc.setJobGroup(tr.op, op.family)
        val t0 = System.nanoTime()
        val (ok, err) = tr.span("op") {
          try (op.body(), "") catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
        }
        val t1 = System.nanoTime()
        if (tracedPass) sc.clearJobGroup()
        val cg = CodeGenerator.compileTime - cg0
        val cn = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cn0
        codegenNs += cg; codegenN += cn
        val fresh = (sc.getPersistentRDDs.keySet -- before).toSeq
        leftovers ++= fresh
        val cutBytes = if (!tracedPass || fresh.isEmpty) 0L else {
          val ids = fresh.toSet
          sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum
        }
        opsOut += Map("id" -> op.id, "family" -> op.family, "s" -> (t1 - t0) / 1e9,
          "ok" -> ok, "err" -> err, "codegen_ns" -> cg, "codegen_n" -> cn,
          "cuts" -> fresh.size, "cut_bytes" -> cutBytes)
      }
      tr.op = s"pass$index"
    }
    val wall = (System.nanoTime() - p0) / 1e9
    val gc = (gcMs - gc0) / 1e3
    val heap = liveHeapMb()
    leftovers.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    rec ++= Map("index" -> index, "traced" -> tracedPass, "wall_s" -> wall, "gc_s" -> gc,
      "heap_mb" -> heap, "ops" -> opsOut.toList, "codegen_s" -> codegenNs / 1e9,
      "codegen_n" -> codegenN, "root" -> root)
    if (tracedPass) {
      GraftBenchBridge.drain(sc)
      val c1 = listener.counters
      rec("counters") = c1.map { case (k, v) => k -> (v - c0(k)) }
      tr.spans ++= listener.flushSpans(tr)
      sc.removeSparkListener(listener)
    }
    tr.on = false
    rec.toMap
  }

  /** Read every input table once through the noop sink, so a session's
    * first operation does not pay the cold file listing and decode. */
  private def scanInputs(input: String): Unit = {
    val frames =
      if (kind == "tasks") Seq(spark.read.parquet(s"$input/raw"))
      else graft.Tables.all.filter(t => new java.io.File(s"$input/$t.parquet").exists)
        .map(t => graft.Tables(spark, input, t))
    frames.foreach(_.write.format("noop").mode("overwrite").save())
  }

  def run(): Unit = {
    val result = mutable.Map.empty[String, Any]
    val setups = mutable.ArrayBuffer.empty[Map[String, Any]]
    // each repetition starts a fresh session on a fresh copy of the inputs
    inputs.foreach { input =>
      val s0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = newSession()
      scanInputs(input)
      setups += Map("session_s" -> (System.nanoTime() - s0) / 1e9)
    }
    // warm-up passes on the last session; for the query mix the first
    // one writes each result as parquet for the output check
    val w0 = System.nanoTime()
    val check = if (kind == "queries") Some(s"$work/check") else None
    result("warm") = (0 until spec.get("warmups").asInt).map { k =>
      pass(-1 - k, inputs.last, s"$work/warm$k", if (k == 0) check else None,
        tracedPass = false)
    }
    result("warm_s") = (System.nanoTime() - w0) / 1e9
    result("setup") = setups.toList
    val input = inputs.last
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val m0 = System.nanoTime()
    // traced runs alternate traced and untraced passes: the untraced ones
    // give the tracing overhead on the same process and inputs
    for (k <- 0 until spec.get("passes").asInt)
      passes += pass(k, input, s"$work/pass$k", None, tracedPass = traced && k % 2 == 0)
    result("window_s") = (System.nanoTime() - m0) / 1e9
    result("passes") = passes.toList
    if (kind == "queries")
      result("queries") = queryNames.map { case (n, f) =>
        Map("name" -> n, "family" -> f, "oracle" -> Registry.oracleMap.getOrElse(n, "")) }
    result("spans") = tr.spans.map(_.toJson).toList
    result("gc_total_s") = gcMs / 1e3
    Json.write(spec.get("result").asText, result.toMap)
    spark.stop()
  }
}
