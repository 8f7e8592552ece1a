package graft.io

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopStreams}
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal

/** Output sinks: DRS-style directory layout, deterministic file naming,
  * metadata sidecars, and the status bookkeeping table.
  *
  * Mirrors the reference's CMOR writer surface (mopper.py mop_process
  * 175-351) and the DRS path/filename templating (setup_utils.py
  * build_filename 486-542; templates CMIP6_conf.yaml:31-32), with
  * Parquet as the columnar container instead of NetCDF; variable
  * attributes (units, cell_methods, positive) ride in a JSON sidecar the
  * way CMOR tables carry them.
  *
  * Scale: the DRS path names the variable and a `period=<start>-<end>`
  * partition names each planner slice, so a read of any (variable,
  * time-chunk) slice is partition-pruned; per-file row caps keep file
  * sizes near the planner's target without a global sort.
  */
object Sink {

  /** Full JSON string escape — control characters included, so a
    * newline/tab inside any attribute value (cell_methods, comment)
    * can't produce an invalid document. Valid-JSON (parse-equivalent)
    * parity with Python's json.dump: non-ASCII stays raw UTF-8 here
    * while json.dump's ensure_ascii default would \\uXXXX-escape it,
    * so documents are equivalent, not byte-identical. Shared by every
    * JSON-emitting writer here (and Bench's sidecar). */
  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  final case class DrsKey(
      activity: String, institution: String, source: String, experiment: String,
      member: String, table: String, variable: String, grid: String, version: String)

  /** DRS directory path (CMIP6 layout). */
  def drsPath(k: DrsKey): String =
    Seq(k.activity, k.institution, k.source, k.experiment, k.member,
      k.table, k.variable, k.grid, k.version).mkString("/")

  /** Deterministic filename with a frequency-precision date-range stamp
    * (build_filename semantics: stamp precision follows frequency). */
  def fileName(k: DrsKey, freq: String, start: String, end: String): String = {
    val prec = freq match {
      case "yr" | "10yr"          => 4
      case "mon"                  => 6
      case "day"                  => 8
      case _                      => 12
    }
    s"${k.variable}_${k.table}_${k.source}_${k.experiment}_${k.member}_${k.grid}_" +
      s"${stamp(start, prec)}-${stamp(end, prec)}.parquet"
  }

  private def stamp(ts: String, prec: Int): String =
    ts.filter(_.isDigit).take(prec)

  /** The `period` partition value of one planner slice `[startUs,
    * endUs)` (epoch microseconds, UTC): both ends at [[fileName]]'s
    * 12-digit sub-daily precision, so every slice of a variable gets
    * its own partition whatever the variable's output frequency. */
  def periodOf(startUs: Long, endUs: Long): String = {
    def iso(us: Long) = java.time.Instant.EPOCH
      .plus(us, java.time.temporal.ChronoUnit.MICROS).toString
    s"${stamp(iso(startUs), 12)}-${stamp(iso(endUs), 12)}"
  }

  /** Vertical-direction inference (mop_utils.py:776-786): an explicit
    * configured `up`/`down` wins; otherwise keyword-sniff the CF
    * standard name. The Column twin is
    * [[graft.catalog.Axes.positiveDir]]. */
  def positiveOf(configured: Option[String],
      standardName: Option[String]): Option[String] =
    configured.filter(Set("up", "down")).orElse {
      val s = standardName.getOrElse("None").toLowerCase
      if (Seq("up", "outgoing", "out_of").exists(s.contains)) Some("up")
      else if (Seq("down", "incoming", "into").exists(s.contains)) Some("down")
      else None
    }

  /** Write one planner slice of an output variable: parquet in the
    * slice's `period=<period>` partition ([[periodOf]]) under the DRS
    * path, plus a JSON metadata sidecar with the CMOR-style attributes
    * at the variable level. Only that partition is replaced (dynamic
    * partition overwrite): the variable's other slices and the sidecar
    * survive, and re-running a slice replaces just its rows. Flux-like
    * variables get their `positive` attribute inferred from the
    * standard name when the catalog didn't set one. */
  def writeDrs(df: DataFrame, root: String, k: DrsKey, period: String,
      attrs0: Map[String, String], maxRecordsPerFile: Long = 5000000L): String = {
    val dir = s"$root/${drsPath(k)}"
    df.withColumn("period", org.apache.spark.sql.functions.lit(period))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("period")
      .parquet(dir)
    // when neither the config nor the standard name yields a canonical
    // direction, pass attrs through untouched — a non-canonical
    // configured value (e.g. 'Up') is the operator's to keep, not ours
    // to silently drop
    val attrs = positiveOf(attrs0.get("positive"), attrs0.get("standard_name"))
      .map(p => attrs0 + ("positive" -> p)).getOrElse(attrs0)
    val json = (Map("variable" -> k.variable, "table" -> k.table) ++ attrs)
      .toSeq.sortBy(_._1)
      .map { case (key, v) => s""""${jsonEscape(key)}": "${jsonEscape(v)}"""" }
      .mkString("{", ", ", "}")
    // underscore prefix hides it from scans, but NOT "_metadata"/"_common_
    // metadata" — those names are parquet summary files Spark tries to
    // parse as parquet.
    writeText(df.sparkSession, s"$dir/_attrs.json", json)
    dir
  }

  /** Write a corpus as `nShards` balanced training shards: documents
    * get their serpentine shard (ops/Shard — counting-sort rank over
    * `sizeCol` descending, `idCol` tiebreak), land in `shard=K`
    * partition directories a data-parallel trainer streams one-per-rank,
    * and a `_manifest.json` sidecar records per-shard doc/size totals —
    * the dataset-card numbers a training run reads before it starts.
    * The manifest aggregation collects `nShards` rows (the metadata-
    * sized Sink collect class); the assignment recomputes for the stats
    * pass rather than caching a corpus-sized frame. */
  def writeShards(docs: DataFrame, idCol: String, sizeCol: String,
      root: String, nShards: Int): String = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val assigned = graft.ops.Shard.histogramRank(docs, col(sizeCol),
        bucketAsc = false, Seq(col(idCol).asc), "__rnk")
      .withColumn("shard",
        graft.ops.Shard.serpentineShard(col("__rnk"), nShards))
      .drop("__rnk")
    assigned.write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(root)
    val stats = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col(sizeCol)).as("sum_size"))
      .orderBy(col("shard")).collect()
    val json = stats.map(r =>
        s"""{"shard": ${r.getLong(0)}, "n_docs": ${r.getLong(1)},""" +
          s""" "sum_size": ${r.getLong(2)}}""")
      .mkString("[", ", ", "]")
    writeText(docs.sparkSession, s"$root/_manifest.json", json)
    root
  }

  /** Mapping-template CSV emission (mopdb_utils.py write_map_template
    * 744-798): the `;`-separated template with the reference's literal
    * warning-section banners, fed by
    * [[graft.catalog.Catalog.templateSections]] (the matched / no_ver /
    * no_frq / no_match ladder) and [[graft.catalog.Catalog.derivable]]
    * (the pot_vars block). A mapping template is a human-edited
    * artifact of catalog size — the data-sized classification pass
    * stays distributed in templateSections; only the final few-KB
    * template is brought to the driver and written as one file.
    *
    * Fields containing the `;` delimiter (or a quote/newline) are
    * quoted with doubled embedded quotes, matching Python's
    * csv.writer(delimiter=';'). Layout note: this is a DELIBERATELY
    * reduced 7-column template — the columns this engine's catalog
    * computes — not the reference's 17-column layout (whose extra
    * columns are pass-through DB fields with no analog here); the
    * artifact is for this engine's round-trip, not for feeding back
    * into reference tooling. */
  def writeMapTemplate(sections: DataFrame, derivable: DataFrame,
      path: String, version: String): Unit = {
    import org.apache.spark.sql.functions.col
    def s(v: Any): String = Option(v).map(_.toString).getOrElse("")
    val rows = sections
      .select(col("section"), col("cmor_var"), col("varName"),
        col("units"), col("frequency"), col("positive"))
      .orderBy(col("varName"), col("frequency"))
      .collect()
    val derived = derivable
      .select(col("cmorVar"), col("inputVars"))
      .orderBy(col("cmorVar"), col("inputVars"))
      .collect()
    val bySection = rows.groupBy(_.getString(0))
    val sb = new StringBuilder
    def field(v: String): String =
      if (v.exists(ch => ch == ';' || ch == '"' || ch == '\n' || ch == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    def line(cols: Seq[String]): Unit =
      sb.append(cols.map(field).mkString(";")).append('\n')
    line(Seq("cmor_var", "input_vars", "units", "frequency", "positive",
      "version", "section"))
    val banners = Map( // the reference's literal warning banners
      "no_ver" -> ("# Variables definitions coming from different " +
        "model version: Use with caution!"),
      "no_frq" -> "# Variables with different frequency: Use with caution!",
      "no_match" -> "# Variables without mapping")
    Seq("matched", "no_ver", "no_frq", "no_match").foreach { sec =>
      banners.get(sec).foreach(b => line(Seq(b)))
      bySection.getOrElse(sec, Array()).foreach { r =>
        line(Seq(s(r.get(1)), s(r.get(2)), s(r.get(3)), s(r.get(4)),
          s(r.get(5)), version, sec))
      }
    }
    line(Seq("# Derived variables: Use with caution!"))
    derived.foreach { r =>
      line(Seq(s(r.get(0)), s(r.get(1)), "", "", "", version, "derivable"))
    }
    writeText(sections.sparkSession, path, sb.toString)
  }

  /** CMOR table `approx_interval` per frequency (mopdb_utils.py
    * cmor_table_header 307-330, verbatim). */
  val approxInterval: Map[String, String] = Map(
    "dec" -> "3650.0", "yr" -> "365.0", "mon" -> "30.0", "day" -> "1.0",
    "6hr" -> "0.25", "3hr" -> "0.125", "1hr" -> "0.041667",
    "10min" -> "0.006944", "fx" -> "0.0")

  /** CMOR table JSON emission (mopdb_utils.py write_cmor_table
    * 331-366 + cmor_table_header 307-330): the `{Header,
    * variable_entry}` document. The table's realm and frequency are
    * the MODE across the variable list (the reference's
    * Counter.most_common), computed distributed (groupBy + count,
    * ties broken lexicographically — the reference's tie is dict
    * order); `tableDate` is a parameter instead of `date.today()` so
    * the artifact is reproducible. `vars` must carry `cmor_var` plus
    * `frequency` and `modeling_realm`; every other column lands in
    * that variable's entry verbatim. A CMOR table is a catalog-sized
    * human artifact — only the final JSON is collected. */
  def writeCmorTable(vars: DataFrame, name: String, tableDate: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    def mode(c: String): String = {
      val r = vars.groupBy(col(c)).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col(c).asc).limit(1).collect()
      if (r.isEmpty) "" else Option(r(0).get(0)).map(_.toString).getOrElse("")
    }
    val realm = mode("modeling_realm")
    val freq = mode("frequency")
    def jstr(s: String): String = "\"" + jsonEscape(s) + "\""
    def jobj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}")
    val header = jobj(Seq(
      "data_specs_version" -> "01.00.33", "cmor_version" -> "3.5",
      "table_id" -> s"Table $name", "realm" -> realm,
      "table_date" -> tableDate, "missing_value" -> "1e20",
      "int_missing_value" -> "-999", "product" -> "model-output",
      "approx_interval" -> approxInterval.getOrElse(freq, ""),
      "generic_levels" -> "", "mip_era" -> "",
      "Conventions" -> "CF-1.7 ACDD1.3"))
    val cols = vars.columns
    val entries = vars.orderBy(col("cmor_var")).collect().map { r =>
      val kvs = cols.zipWithIndex.filter(_._1 != "cmor_var").map {
        case (c, i) => c -> Option(r.get(i)).map(_.toString).getOrElse("")
      }
      jstr(r.getString(cols.indexOf("cmor_var"))) + ": " + jobj(kvs.toSeq)
    }
    val json = s"""{"Header": $header, "variable_entry": {${
      entries.mkString(", ")}}}"""
    writeText(vars.sparkSession, path, json)
  }

  /** Write one small text artifact (a sidecar, manifest, template or
    * table) through the Hadoop FileSystem of its path — the one the
    * parquet beside it was written through — so a URI root such as
    * `file:///…` lands where the data did instead of being read as a
    * relative local path. Overwrites. */
  private def writeText(spark: SparkSession, path: String,
      text: String): Unit = {
    val p = new Path(path)
    val out = rawFs(spark, p).create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The Hadoop FileSystem of `p`, with a checksummed local filesystem
    * unwrapped to its raw one: what is written through it gets no
    * `.crc` sibling, as with a plain java.nio write. */
  private def rawFs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f                     => f
    }

  /** The status row's parquet schema: the one Spark's own writer gives a
    * `(String, String, Long, String)` row, so a `_status` directory that
    * also holds files written by Spark reads back as one table. */
  private val statusSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary task_id (STRING);
      |  optional binary status (STRING);
      |  required int64 n_rows;
      |  optional binary at (STRING);
      |}""".stripMargin)

  /** Status bookkeeping (the filelist.status updates of mopper.py
    * 107-112): one appended row per processed task, written on the
    * driver as its own parquet file — no Spark job, no commit protocol.
    * The file is written under a hidden name (which Spark's reader and
    * a `*.parquet` glob skip) and renamed to `part-<uuid>.parquet`, so
    * a reader never sees it half-written and concurrent appends into
    * one directory never share a file or a staging directory. */
  def appendStatus(spark: SparkSession, statusDir: String,
      taskId: String, status: String, rows: Long): Unit = {
    val dir = new Path(statusDir)
    val fs = rawFs(spark, dir)
    fs.mkdirs(dir)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val row = new SimpleGroupFactory(statusSchema).newGroup()
    Option(taskId).foreach(row.append("task_id", _))
    Option(status).foreach(row.append("status", _))
    row.append("n_rows", rows)
    row.append("at", java.time.Instant.now().toString)
    val file = new OutputFile {
      def create(blockSizeHint: Long): PositionOutputStream =
        HadoopStreams.wrap(fs.create(tmp, false))
      def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
        HadoopStreams.wrap(fs.create(tmp, true))
      def supportsBlockSize(): Boolean = false
      def defaultBlockSize(): Long = 0L
    }
    try {
      val w = ExampleParquetWriter.builder(file).withType(statusSchema)
        .withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(row) finally w.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"cannot rename $tmp into $statusDir")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false)
        catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }
  }

  /** Rows held by the parquet files of one directory, summed from their
    * footers — no data is read. A missing directory holds 0 rows. */
  private[graft] def footerRows(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator
      .filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_"))
      .map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }
}
