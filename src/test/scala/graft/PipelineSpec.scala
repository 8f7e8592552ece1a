package graft

import graft.catalog.Catalog
import graft.catalog.Catalog.Mapping
import graft.io.Sink
import graft.plans.Planner
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end slice (SURVEY.md §7.2): catalog resolve → plan → execute →
  * DRS output — the "tas monthly mean" pipeline of the reference's
  * conftest fixture, driven on synthetic events data. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val maps = Seq(
    Mapping("tas", "fld_s03i236", "", "K", "t y x", "1hr", "atmos",
      "area: time: mean", "", "Amon", "CM2"),
    Mapping("tas", "fld_s03i236", "", "K", "t y x", "day", "atmos",
      "area: time: mean", "", "Aday", "CM2"),
    Mapping("pr", "rain snow", "var[0]+var[1]", "kg m-2 s-1", "t y x", "1hr",
      "atmos", "area: time: mean", "", "Amon", "CM2"))

  /** `n` hourly rows of one `fld` column, from 2024-01-01T00:00Z. */
  private val t2024 =
    java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
  private def hourly(n: Long) = spark.range(n).select(
    timestamp_micros(lit(t2024) + $"id" * 3600000000L).as("time"),
    ($"id" * 1.5).as("fld"))

  test("catalog resolve: exact frequency wins, else nearest + resample step") {
    val mdf = Catalog.mappings(spark, maps)
    val req = Seq(("tas", "day"), ("tas", "mon"), ("nope", "mon"))
      .toDF("cmorVar", "frequency")
    val out = Catalog.resolve(req, mdf)
      .select($"req_var", $"req_freq", $"frequency", $"resample", $"status")
      .as[(String, String, String, String, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out(("tas", "day")) == (("day", "", "exact")))
    assert(out(("tas", "mon")) == (("day", "mon", "resampled"))) // nearest rung
    assert(out(("nope", "mon"))._3 == "unmatched")
  }

  test("catalog resolve: relaxes only toward finer frequencies") {
    val mdf = Catalog.mappings(spark, maps ++ Seq(
      Mapping("siconc", "fld_s00i031", "", "1", "t y x", "mon", "seaIce",
        "area: time: mean", "", "SImon", "CM2")))
    val req = Seq(("tas", "3hr"), ("siconc", "day"))
      .toDF("cmorVar", "frequency")
    val out = Catalog.resolve(req, mdf)
      .select($"req_var", $"frequency", $"status")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // day source is nearer to 3hr on the ladder but coarser: must pick 1hr
    assert(out("tas") == (("1hr", "resampled")))
    // a mon-only source cannot serve a day request (upsampling is not resample)
    assert(out("siconc") == ((null, "unmatched")))
  }

  test("catalog resolve: the ladder on Pt-modified rungs (FIXTURES.md varlist shape)") {
    // aus2200-style rows: tas at 1hr, 1hrPt and 10minPt from one
    // model; hfss_Pt only at the 1hrPt point rung
    def aus(cmor: String, fld: String, freq: String, table: String) =
      Mapping(cmor, fld, "", "K", "time_0 lat lon", freq, "atmos",
        "area: time: mean", "", table, "AUS2200")
    val mdf = Catalog.mappings(spark, Seq(
      aus("tas", "fld_s03i236", "1hr", "AUS2200_A1hr"),
      aus("tas", "fld_s03i236", "1hrPt", "AUS2200_A1hrPt"),
      aus("tas", "fld_s03i236", "10minPt", "AUS2200_A10min"),
      aus("hfss_Pt", "fld_s03i217", "1hrPt", "AUS2200_A1hrPt")))
    val req = Seq(("tas", "1hr"), ("tas", "day"), ("hfss_Pt", "1hr"),
        ("hfss_Pt", "10min"))
      .toDF("cmorVar", "frequency")
    val out = Catalog.resolve(req, mdf)
      .select($"req_var", $"req_freq", $"frequency", $"resample", $"status")
      .as[(String, String, String, String, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out.size == 4, out)
    // 1hr and 1hrPt share a rung; the exact string wins the tie
    assert(out(("tas", "1hr")) == (("1hr", "", "exact")))
    // a 1hrPt-only variable at 1hr is a resample, never an exact hit
    assert(out(("hfss_Pt", "1hr")) == (("1hrPt", "1hr", "resampled")))
    // day takes the NEAREST finer source: 1hr, not 10minPt
    assert(out(("tas", "day")) == (("1hr", "day", "resampled")))
    // 10min is finer than every hfss_Pt source: unmatched, not coarser
    assert(out(("hfss_Pt", "10min")) == ((null, null, "unmatched")))
  }

  test("catalog derivable: all-inputs-present relational division") {
    val mdf = Catalog.mappings(spark, maps)
    val avail = Seq("fld_s03i236", "rain").toDF("varName")
    val d = Catalog.derivable(mdf, avail).select($"cmorVar").as[String].collect()
    assert(d.toSet == Set("tas")) // pr needs snow, which is missing
  }

  test("catalog templateSections: the parse_vars relaxation ladder + add_var enrichment") {
    val scanned = Seq(
      ("v1", "", "", "mon"),    // exact (freq+version) → matched
      ("v1", "", "", "day"),    // freq hit on another version → no_ver
      ("v1", "", "", "yr"),     // version hit, freq differs → no_frq
      ("v2", "pre", "K", "mon"),// name hit, freq AND version wrong → no_match
      ("v3", "", "", "mon"))    // unknown → no_match
      .toDF("varName", "cmorVar", "units", "frequency")
    val mappings = Seq(
      ("tas", "v1", "", "K", "mon", "CM2", "up"),
      ("taz", "v1", "", "K", "day", "ESM1.5", ""),
      ("hus", "v2", "", "1", "3hr", "OTHER", ""))
      .toDF("cmorVar", "inputVars", "calculation", "units",
        "frequency", "model", "positive")
    val out = Catalog.templateSections(scanned, mappings, "CM2")
      .orderBy($"varName", $"frequency")
      .select($"varName", $"frequency", $"section", $"cmor_var",
        $"positive", $"units")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), Option(r.getString(4)), Option(r.getString(5))))
    assert(out.toSeq == Seq(
      ("v1", "day", "no_ver", "taz", Some(""), Some("K")),
      ("v1", "mon", "matched", "tas", Some("up"), Some("K")),
      ("v1", "yr", "no_frq", "tas", Some("up"), Some("K")),
      ("v2", "mon", "no_match", "pre", None, Some("K")),
      ("v3", "mon", "no_match", "v3", None, None)))
  }

  test("writeMapTemplate: sections in reference order behind their banners") {
    val scanned = Seq(
      ("v1", "", "", "mon"), ("v1", "", "", "day"), ("v3", "", "", "mon"))
      .toDF("varName", "cmorVar", "units", "frequency")
    val mappings = Seq(
      ("tas", "v1", "", "K", "mon", "CM2", ""),
      ("taz", "v1", "", "K", "day", "ESM1.5", ""),
      ("pr", "rain snow", "var[0]+var[1]", "kg m-2 s-1", "mon", "CM2", ""))
      .toDF("cmorVar", "inputVars", "calculation", "units",
        "frequency", "model", "positive")
    val sections = Catalog.templateSections(scanned, mappings, "CM2")
    val avail = Seq("rain", "snow").toDF("varName")
    val pot = Catalog.derivable(
      Catalog.mappings(spark, Seq(Mapping("pr", "rain snow",
        "var[0]+var[1]", "kg m-2 s-1", "t y x", "mon", "atmos",
        "area: time: mean", "", "Amon", "CM2"))), avail)
    val out = Files.createTempDirectory("tmpl").resolve("map_test.csv")
    Sink.writeMapTemplate(sections, pot, out.toString, "CM2")
    val lines = Files.readAllLines(out)
    assert(lines.get(0).startsWith("cmor_var;input_vars;"))
    // matched row first, then each banner introduces its section
    val txt = String.join("\n", lines)
    val iMatched = txt.indexOf("tas;v1")
    val iVerBanner = txt.indexOf("# Variables definitions coming from")
    val iNoVer = txt.indexOf("taz;v1")
    val iNoMatchBanner = txt.indexOf("# Variables without mapping")
    val iNoMatch = txt.indexOf("v3;v3")
    val iDerivBanner = txt.indexOf("# Derived variables")
    val iDeriv = txt.indexOf("pr;rain snow")
    assert(Seq(iMatched, iVerBanner, iNoVer, iNoMatchBanner, iNoMatch,
      iDerivBanner, iDeriv).forall(_ >= 0), txt)
    assert(iMatched < iVerBanner && iVerBanner < iNoVer &&
      iNoVer < iNoMatchBanner && iNoMatchBanner < iNoMatch &&
      iNoMatch < iDerivBanner && iDerivBanner < iDeriv, txt)
  }

  test("umVarFrequencies: equal-length axes defer to the filename for every variable") {
    val files = Seq((1, "atmos", "umnsa_pa_2024_mon.nc"))
      .toDF("file_id", "realm", "fname")
    // two time axes of the SAME length → get_frequency returns no umfrq
    // and even a non-time-led variable keeps the filename answer
    val axes = Seq(
      (1, "time", 12, Some(30.0), Some(330.0)),
      (1, "time_0", 12, Some(30.0), Some(330.0)))
      .toDF("file_id", "axis", "n_steps", "delta_days", "span_days")
    val vars = Seq((1, "a", "time"), (1, "b", "depth"))
      .toDF("file_id", "var_name", "dim0")
    val out = Catalog.umVarFrequencies(files, axes, vars)
      .orderBy($"var_name").select($"freq").as[String].collect().toSeq
    assert(out == Seq("mon", "mon"))
  }

  test("removeDuplicateVars: strict vs loose keys, keep-first under the order") {
    val vars = Seq(
      // same loose key (name, cmor, units); realms differ
      ("v1", "tas", "K", "atmos", "area: time: mean", 1L),
      ("v1", "tas", "K", "ocean", "area: time: mean", 2L),
      // exact strict duplicate, later position -> dropped in both modes
      ("v1", "tas", "K", "atmos", "area: time: mean", 3L),
      ("v2", "pr", "kg m-2 s-1", "atmos", "area: time: mean", 4L))
      .toDF("varName", "cmorVar", "units", "realm", "cellMethods", "pos")
    val strict = Catalog.removeDuplicateVars(vars, strict = true, $"pos")
      .select($"pos").as[Long].collect().toSet
    val loose = Catalog.removeDuplicateVars(vars, strict = false, $"pos")
      .select($"pos").as[Long].collect().toSet
    assert(strict == Set(1L, 2L, 4L)) // realm distinguishes rows 1 and 2
    assert(loose == Set(1L, 4L))      // loose key collapses them, first kept
  }

  test("writeCmorTable: mode realm/frequency, interval map, entries keyed by var") {
    val vars = Seq(
      ("tas", "mon", "atmos", "K", "area: time: mean"),
      ("pr", "mon", "atmos", "kg m-2 s-1", "area: time: mean"),
      ("tos", "mon", "ocean", "degC", "area: mean where sea time: mean"))
      .toDF("cmor_var", "frequency", "modeling_realm", "units", "cell_methods")
    val out = Files.createTempDirectory("cmor").resolve("CMOR_Amon.json")
    Sink.writeCmorTable(vars, "Amon", "01 January 2026", out.toString)
    val txt = Files.readString(out)
    assert(txt.contains("\"realm\": \"atmos\""), txt)        // 2-of-3 mode
    assert(txt.contains("\"approx_interval\": \"30.0\""), txt) // mon -> 30.0
    assert(txt.contains("\"table_id\": \"Table Amon\""), txt)
    assert(txt.contains("\"tas\": {") && txt.contains("\"tos\": {"), txt)
    assert(txt.contains("\"units\": \"degC\""), txt)
  }

  test("writeDrs sidecar escapes control characters in attribute values") {
    val df = Seq((1L, 2.0)).toDF("t", "value")
    val dir = Files.createTempDirectory("drs").toString
    val out = Sink.writeDrs(df, dir,
      Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
        "Amon", "tas", "gn", "v1"), Sink.periodOf(0L, 1L),
      Map("comment" -> "line one\nline two\ttabbed"))
    val sidecar = Files.readString(
      java.nio.file.Paths.get(s"$out/_attrs.json"))
    assert(!sidecar.contains('\n') && !sidecar.contains('\t'), sidecar)
    assert(sidecar.contains("line one\\nline two\\ttabbed"), sidecar)
  }

  test("writeCmorTable escapes control characters (valid JSON, json.dump parity)") {
    val vars = Seq(("tas", "mon", "atmos", "K", "line one\nline two\ttabbed"))
      .toDF("cmor_var", "frequency", "modeling_realm", "units", "comment")
    val out = Files.createTempDirectory("cmor").resolve("ctrl.json")
    Sink.writeCmorTable(vars, "Amon", "01 January 2026", out.toString)
    val txt = Files.readString(out)
    // the raw newline/tab must be escaped, never emitted literally
    assert(!txt.contains('\n') && !txt.contains('\t'), txt)
    assert(txt.contains("line one\\nline two\\ttabbed"), txt)
  }

  test("writeMapTemplate quotes fields containing the ; delimiter (csv.writer parity)") {
    val sections = Seq(("matched", "tas", "v1", "a;b", "mon", ""))
      .toDF("section", "cmor_var", "varName", "units", "frequency", "positive")
    val pot = Seq.empty[(String, String)].toDF("cmorVar", "inputVars")
    val out = Files.createTempDirectory("tmpl").resolve("quoted.csv")
    Sink.writeMapTemplate(sections, pot, out.toString, "CM2")
    val txt = Files.readString(out)
    // the units field must arrive quoted so the row still has 7 columns
    assert(txt.contains("\"a;b\""), txt)
  }

  test("driver contract: entry returns rows, every query has an oracle or runs") {
    assert(SparkEntry.entry(spark).count() > 0) // the driver's t1 smoke
    // every registered query name appears exactly once and each oracle
    // key refers to a registered query
    val names = SparkEntry.queries.keys.toSeq
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }

  test("driver contract: every registered query executes on the driver testdata") {
    // r7 lesson: 7 queries crashed at ANALYSIS time on regenerated
    // testdata (TIMESTAMP_NTZ) while the suite stayed green, because
    // nothing here ever ran them. Materialize every registered query at
    // the t1-smoke scale through the noop sink (count() would let
    // Catalyst prune the very projections that crash) so an
    // analysis-or-runtime break in ANY query fails `sbt test` instead of
    // silently dropping out of the round's CORRECTNESS report.
    val sf = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, sf).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("catalog check: mappings without a CMOR definition surface") {
    val mdf = Catalog.mappings(spark, maps)
    val cmor = Seq(Catalog.CmorVar("tas", "mon", "atmos", "K",
      "area: time: mean", "Near-Surface Air Temperature", "t y x")).toDS().toDF()
    val missing = Catalog.check(mdf, cmor)
      .select($"cmorVar").as[String].collect()
    assert(missing.toSet == Set("pr")) // tas defined, pr not
  }

  test("planner: ladder rung choice and slice coverage") {
    val day = 86400L * 1000000L
    // 100 days at 2 MB/day: cap 60 (slack 66) fits the 1mo rung (30d*2=60),
    // cap 40 (slack 44) drops to 7d (7d*2=14)
    val p = Planner.plan(0L, 100 * day, mbPerDay = 2.0, maxSizeMb = 60.0)
    assert(p.interval == "1mo")
    val q = Planner.plan(0L, 100 * day, mbPerDay = 2.0, maxSizeMb = 40.0)
    assert(q.interval == "7d")
    // slices tile the range exactly
    assert(q.slices.head.startUs == 0L && q.slices.last.endUs == 100 * day)
    assert(q.slices.sliding(2).forall {
      case Seq(a, b) => a.endUs == b.startUs
      case _         => true
    })
    // small enough -> single file
    assert(Planner.plan(0L, day, 2.0, 50.0).interval == "all")
  }

  test("pipeline end-to-end: scan -> calc -> monthly resample -> DRS write") {
    val raw = Tables(spark, "/root/testdata/sf0.001", "events")
      .select($"ts".as("time"), $"value".as("fld_s03i236"),
        ($"value" * 2).as("rain"), ($"value" / 2).as("snow"))
    val t0 = raw.agg(min(graft.ops.TimeEnc.usOf($"time"))).as[Long].head()
    val t1 = raw.agg(max(graft.ops.TimeEnc.usOf($"time"))).as[Long].head() + 1

    val root = Files.createTempDirectory("graft-e2e").toString
    val task = Pipeline.Task(
      id = "tas_Amon_0", inputVars = Seq("fld_s03i236"),
      calculation = "var[0]-273.15", resample = "mon", timeshot = "mean",
      tstartUs = t0, tendUs = t1,
      key = Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
        "Amon", "tas", "gn", "v1"),
      attrs = Map("units" -> "degC", "cell_methods" -> "area: time: mean",
        "standard_name" -> "surface_upward_sensible_heat_flux"))

    val res = Pipeline.run(spark, raw, task, root)
    assert(res.isRight, res)
    val outDir = res.toOption.get
    assert(outDir.endsWith("CMIP6/ACME/SPARK1/histor/r1i1p1f1/Amon/tas/gn/v1"))
    // sidecar carries the positive direction inferred from standard_name
    // (mop_utils.py:776-786) since the catalog didn't configure one
    val sidecar = Files.readString(
      java.nio.file.Paths.get(s"$outDir/_attrs.json"))
    assert(sidecar.contains(""""positive": "up""""), sidecar)

    val out = spark.read.parquet(outDir)
    // value check: monthly mean of (value - 273.15) over the raw data
    val expected = raw
      .groupBy(date_trunc("month", expr("time - INTERVAL 1 MICROSECOND")).as("m"))
      .agg(graft.ops.Exact.davg($"fld_s03i236" - 273.15).as("v"))
      .orderBy($"m").select($"v").as[Double].collect()
    val got = out.orderBy($"time").select($"value").as[Double].collect()
    assert(got.length == expected.length && got.sameElements(expected))

    // status table recorded the success, with the row count observed
    // during the write itself (no post-write rescan)
    val st = spark.read.parquet(s"$root/_status")
    assert(st.filter($"status" === "processed").count() == 1)
    assert(st.filter($"status" === "processed")
      .select($"n_rows").as[Long].head() == out.count())

    // filename stamp precision follows frequency
    val fn = Sink.fileName(task.key, "mon", "19960102030405", "19971112131415")
    assert(fn == "tas_Amon_SPARK1_histor_r1i1p1f1_gn_199601-199711.parquet")
  }

  test("pipeline with a file: URI root writes data and sidecar through one filesystem") {
    val t0 = t2024
    val raw = hourly(24)
    val root = Files.createTempDirectory("graft-uri").toUri.toString
      .stripSuffix("/")
    assert(root.startsWith("file:"), root)
    val task = Pipeline.Task("tas_E1hr_uri", Seq("fld"), "", "", "mean",
      t0, t0 + 24L * 3600000000L,
      Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
        "E1hr", "tas", "gn", "v1"), Map("units" -> "K"))
    val res = Pipeline.run(spark, raw, task, root)
    assert(res.isRight, res)
    val outDir = res.toOption.get
    assert(spark.read.parquet(outDir).count() == 24)
    val sidecar = Files.readString(
      java.nio.file.Paths.get(new java.net.URI(s"$outDir/_attrs.json")))
    assert(sidecar.contains(""""units": "K""""), sidecar)
    assert(spark.read.parquet(s"$root/_status")
      .filter($"status" === "processed").count() == 1)
  }

  test("pipeline slices of one variable land side by side; a re-run replaces only its own") {
    // three days of hourly rows, planned onto the 1d rung: three slices
    // of one variable, so one DrsKey and one output directory
    val day = 86400L * 1000000L
    val t0 = t2024
    val raw = hourly(72)
    val plan = Planner.plan(t0, t0 + 3 * day, mbPerDay = 2.0, maxSizeMb = 2.0)
    assert(plan.slices.size >= 2, plan)
    val root = Files.createTempDirectory("graft-slices").toString
    val key = Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
      "E1hr", "tas", "gn", "v1")
    def run(s: Planner.FileSlice): String = {
      val task = Pipeline.Task(s"tas_E1hr_${s.index}", Seq("fld"),
        "var[0]*2", "", "mean", s.startUs, s.endUs, key, Map("units" -> "K"))
      val res = Pipeline.run(spark, raw, task, root)
      assert(res.isRight, res)
      res.toOption.get
    }
    val dirs = plan.slices.map(run).distinct
    assert(dirs.size == 1, dirs)
    val outDir = dirs.head
    def slice(s: Planner.FileSlice): Set[(Long, Double)] =
      spark.read.parquet(outDir)
        .filter($"period" === Sink.periodOf(s.startUs, s.endUs))
        .select(graft.ops.TimeEnc.usOf($"time"), $"value")
        .as[(Long, Double)].collect().toSet
    // every slice's rows survive the later slices' writes
    assert(spark.read.parquet(outDir).count() == 72)
    plan.slices.foreach { s =>
      val got = slice(s)
      assert(got.nonEmpty && got.forall { case (us, _) =>
        us >= s.startUs && us < s.endUs }, s)
    }
    assert(plan.slices.map(slice(_).size).sum == 72)
    // re-running slice 0 replaces only slice 0: same total, slice 1
    // untouched, and the variable's sidecar still there
    val before1 = slice(plan.slices(1))
    run(plan.slices(0))
    assert(spark.read.parquet(outDir).count() == 72)
    assert(slice(plan.slices(1)) == before1)
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/_attrs.json")))
  }

  test("pipeline failure isolation records status instead of throwing") {
    val raw = Seq(("2024-01-01 00:00:00", 1.0)).toDF("time", "v")
      .withColumn("time", $"time".cast("timestamp"))
    val root = Files.createTempDirectory("graft-e2e-fail").toString
    val bad = Pipeline.Task("bad", Seq("missing_col"), "", "", "mean",
      0L, Long.MaxValue,
      Sink.DrsKey("a", "b", "c", "d", "e", "f", "g", "h", "i"), Map.empty)
    val res = Pipeline.run(spark, raw, bad, root)
    assert(res.isLeft)
    val st = spark.read.parquet(s"$root/_status")
    assert(st.filter($"status".startsWith("failed")).count() == 1)
  }

  test("status files from Spark's writer and from appendStatus read back as one table") {
    val dir = Files.createTempDirectory("graft-status-mix").resolve("_status")
      .toString
    Seq(("old", "processed", 7L, java.time.Instant.now().toString))
      .toDF("task_id", "status", "n_rows", "at")
      .write.parquet(dir)
    Sink.appendStatus(spark, dir, "new", "processed", 9L)
    val st = spark.read.parquet(dir)
    assert(st.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq ==
      Seq("task_id" -> "string", "status" -> "string", "n_rows" -> "bigint",
        "at" -> "string"), st.schema)
    assert(st.select($"task_id", $"status", $"n_rows").as[(String, String, Long)]
      .collect().toSet == Set(("old", "processed", 7L), ("new", "processed", 9L)))
  }

  test("concurrent appendStatus calls each land one file, with nothing left hidden") {
    val dir = Files.createTempDirectory("graft-status-conc").resolve("_status")
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 8).foreach { i =>
        Sink.appendStatus(spark, dir.toString, s"t${t}_$i", "processed", i.toLong)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val st = spark.read.parquet(dir.toString)
    assert(st.count() == 32)
    assert(st.select($"task_id").distinct().count() == 32)
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.size == 32 &&
      names.forall(n => n.startsWith("part-") && n.endsWith(".parquet")), names)
  }

  test("a failing task after a good one logs no ERROR from the query listener bus") {
    // an Observation registers a session-wide listener that re-throws a
    // later query's analysis error, which ExecutionListenerBus logs as
    // an ERROR with the full stack
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("listener-bus-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          errors.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.util.ExecutionListenerBus").asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    try {
      val t0 = t2024
      val raw = hourly(24)
      val root = Files.createTempDirectory("graft-listener").toString
      val key = Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
        "E1hr", "tas", "gn", "v1")
      val good = Pipeline.Task("good", Seq("fld"), "", "", "mean",
        t0, t0 + 24L * 3600000000L, key, Map.empty)
      assert(Pipeline.run(spark, raw, good, root).isRight)
      val bad = good.copy(id = "bad", inputVars = Seq("missing_col"))
      assert(Pipeline.run(spark, raw, bad, root).isLeft)
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val st = spark.read.parquet(s"$root/_status")
        .select($"task_id", $"status", $"n_rows").as[(String, String, Long)]
        .collect().map(r => r._1 -> r).toMap
      assert(st("good") == (("good", "processed", 24L)), st)
      assert(st("bad")._2.startsWith("failed") && st("bad")._3 == 0L, st)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
  }

  test("an empty slice leaves no partition and records 0 rows") {
    val t0 = t2024
    val raw = hourly(24)
    val root = Files.createTempDirectory("graft-empty").toString
    val task = Pipeline.Task("empty", Seq("fld"), "", "", "mean",
      t0 + 48L * 3600000000L, t0 + 72L * 3600000000L,
      Sink.DrsKey("CMIP6", "ACME", "SPARK1", "histor", "r1i1p1f1",
        "E1hr", "tas", "gn", "v1"), Map.empty)
    val res = Pipeline.run(spark, raw, task, root)
    assert(res.isRight, res)
    assert(!Files.exists(java.nio.file.Paths.get(res.toOption.get,
      s"period=${Sink.periodOf(task.tstartUs, task.tendUs)}")))
    assert(spark.read.parquet(s"$root/_status")
      .select($"status", $"n_rows").as[(String, Long)].collect().toSeq ==
      Seq(("processed", 0L)))
  }
}
