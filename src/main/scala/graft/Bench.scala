package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.Locale

object Bench {
  /** Exercise the shuffle + broadcast + agg + noop-sink machinery once:
    * their first use costs ~2 s of lazy init + JIT that would otherwise
    * land on whichever query runs first. */
  private def warmupShufflePath(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    Tables(spark, sfDir, "nation")
      .join(broadcast(Tables(spark, sfDir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name")).agg(sum(col("n_nationkey")).as("s"))
      .orderBy(col("r_name"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Median of the runs; -1 if ANY run crashed — a query that worked
    * on pass 1 and died on pass 2 must not report a healthy time in
    * the summary line (the per-pass detail still shows which). */
  private def median(runs: Seq[Double]): Double = {
    val ok = runs.sorted
    if (runs.isEmpty || runs.exists(_ < 0)) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
  }

  /** Per-query FLOOR: the minimum of the kept runs — the statistic the
    * r15 environment-vs-code decomposition needed by hand (medians said
    * 1.27×, min-vs-min said 1.074× on a measured contended host; the
    * floor is the honest round-over-round comparator when pass counts
    * and host contention differ between artifacts). Crash semantics
    * match [[median]]: -1 if ANY run crashed — a row that worked on
    * pass 1 and died on pass 2 must not report a healthy floor. */
  private def minRun(runs: Seq[Double]): Double =
    if (runs.isEmpty || runs.exists(_ < 0)) -1.0 else runs.min

  /** Nearest-rank (lower) percentile over the healthy runs — an actual
    * sample, never an interpolation. With the default 3 passes p25/p75
    * are the min/max, which IS the spread a regression must clear to be
    * more than run-to-run noise. -1 when every run crashed. */
  private def pct(runs: Seq[Double], q: Double): Double = {
    val ok = runs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else ok(math.min(ok.size - 1, math.max(0, math.ceil(q * ok.size).toInt - 1)))
  }

  private def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(Locale.ROOT, "%.2f", Double.box(v))

  /** Pure widen adjudication plan (r14 verdict #1c — the unbounded
    * widen rule converted a disturbed host's noise into the driver
    * timeout). Input: each row's kept healthy runs. A row is noisy
    * when its spread clears the health bar (max/min > 2) above the
    * 0.5 s jitter floor. Of the noisy rows:
    *  - rows whose MEDIAN exceeds `skipAboveS` are never widened —
    *    re-running a 60 s row three times buys 3 wall-minutes to
    *    adjudicate noise the median already out-votes;
    *  - the rest are widened in ascending-median order until the
    *    estimated extra wall (2 timed passes ≈ 2× median each)
    *    exceeds `wallCapS` — the cheapest rows (where 2 extra passes
    *    actually move the median) win the budget.
    * Returns (widen order, skipped) as indices into `runs`. */
  private[graft] def widenPlan(runs: Seq[Vector[Double]],
      skipAboveS: Double, wallCapS: Double): (Seq[Int], Seq[Int]) = {
    val noisy = runs.indices.filter { i =>
      val ok = runs(i).filter(_ > 0)
      // a crashed row (-1 present) reports -1 whatever the spread —
      // extra passes can't change that, so it is never a candidate
      !runs(i).contains(-1.0) &&
        ok.nonEmpty && ok.max > 0.5 && ok.max / math.max(ok.min, 1e-9) > 2.0
    }
    // the median ceiling only gates rows that already hold >=3 kept
    // samples (ADVICE r15): there the median out-votes one disturbed
    // pass and extra passes buy nothing, while a 2-sample row has NO
    // majority — its "median" is the mean of two disagreeing passes.
    // In the LIVE flow the r15 27 s mean-of-2 tier shape is fixed by
    // the stabilizer now running on tier rows too (every >2x 2-sample
    // row first gets its 1.3x-triggered third pass, or the budget has
    // tripped and widening is off anyway); this gate is the
    // belt-and-suspenders half for any caller that invokes widenPlan
    // without a stabilize pass in front of it.
    val (tooSlow, eligible) = noisy.partition(i =>
      runs(i).size >= 3 && median(runs(i)) > skipAboveS)
    val ordered = eligible.sortBy(i => median(runs(i)))
    // explicit fold (ADVICE r15): Seq.partition gives no guarantee its
    // predicate runs exactly once per element in order, and the old
    // mutable-`spent`-inside-partition version depended on that
    val (take, dropped, _) = ordered.foldLeft(
        (Vector.empty[Int], Vector.empty[Int], 0.0)) {
      case ((t, d, spent), i) =>
        val est = 2.0 * math.max(median(runs(i)), 0.0)
        if (spent + est <= wallCapS) (t :+ i, d, spent + est)
        else (t, d :+ i, spent)
    }
    (take, tooSlow ++ dropped)
  }

  /** Sum of all collectors' accumulated GC wall time, ms. */
  private def totalGcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Used bytes across the three CodeHeap pools, MB — the r14
    * code-cache-saturation signal (C2 heap max_used == size ⟹ the 3×
    * slow mode). Stamped on every progress line so a killed run's
    * stderr tail alone says whether a slow pass coincided with a full
    * code cache. -1 when the pools can't be read. */
  private def codeCacheUsedMb: Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum / (1024 * 1024)
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Host 1-minute load average (/proc/loadavg) — the contended-host
    * signal the r14 driver-environment slow mode needs to separate
    * from JVM pathology. "-1" when unreadable. */
  private def load1: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0) finally src.close()
    } catch { case scala.util.control.NonFatal(_) => "-1" }

  /** Cumulative steal jiffies from /proc/stat's aggregate cpu line
    * (field 8 after the "cpu" token) — a rising delta between progress
    * lines means the hypervisor took the cores mid-pass. -1 when
    * unreadable (non-Linux). */
  private def stealJiffies: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Recursive byte size of this JVM's shuffle/block spill dirs
    * (blockmgr-* under java.io.tmpdir) — the on-disk residue a pass
    * leaves behind. Cheap: thousands of files at most. */
  private def blockDirBytes: Long = {
    val tmp = new java.io.File(
      System.getProperty("java.io.tmpdir", "/tmp"))
    def sz(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(sz).sum).getOrElse(0L)
    Option(tmp.listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith("blockmgr")).map(sz).sum
  }

  /** Records which budget check fired first ("" = none): the detail
    * file and both summary lines attach the marker, so a driver run
    * that ran out of wall still ships a parseable, attributable
    * artifact (r14's rc=124 / parsed:null — verdict #1). */
  private val budgetHit =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private def overBudget(deadlineNs: Long): Boolean =
    deadlineNs > 0 && System.nanoTime() > deadlineNs
  /** True (and records `where`, first writer wins) when past deadline. */
  private def tripBudget(where: String, deadlineNs: Long): Boolean =
    if (overBudget(deadlineNs)) { budgetHit.compareAndSet(null, where); true }
    else false

  /** Round-robin timed sweeps through the noop sink (materializes every
    * output row/column; a count() would let Catalyst prune the measured
    * projections). Single-shot timing cannot tell a real regression
    * from a GC/JIT stall on a neighboring query (r3 verdict: 4 phantom
    * regressions) — interleaving decorrelates a transient host stall
    * from any one query's samples. Sweep 0 is an UNTIMED warm-up
    * (discarded): r7's first sweep was host-contaminated (q105 runs
    * [69.05, 2.47, 0.93]) and with 3 kept passes the outlier sits next
    * to the median — paying one throwaway sweep keeps a single
    * disturbed pass out of every reported statistic. */
  private def timePasses(spark: SparkSession, sfDir: String,
      named: Seq[(String, (SparkSession, String) => DataFrame)],
      passes: Int,
      health: scala.collection.mutable.ArrayBuffer[String] = null,
      warmup: Boolean = true,
      deadlineNs: Long = 0L,
      tag: String = "")
      : Array[Vector[Double]] = {
    val runs = Array.fill(named.size)(Vector.empty[Double])
    // warmup=false: the rows just ran (stabilize/widen extras) — their
    // code is JIT'd and their inputs page-cached; paying another
    // untimed pass would double the cost of every adjudication pass
    for (p <- (if (warmup) 0 else 1) to passes) {
      val gc0 = totalGcMs
      val t0 = System.nanoTime()
      for (i <- named.indices) {
        val (_, fn) = named(i)
        // budget check BETWEEN queries (r14 verdict #1b): a pass that
        // would overrun the driver's wall window stops here — medians
        // come from the passes already kept, and the summary line
        // ships with the budget marker instead of dying rc=124
        if (!runs(i).lastOption.contains(-1.0) && // a crash won't un-crash
            !tripBudget(s"pass_p$p", deadlineNs)) {
          val before = Dev.persistedIds(spark)
          val task0 = obs.totals.runTimeMs
          val q0 = System.nanoTime()
          // swallow only NonFatal (r12 advice): an interrupted pass
          // restores the flag and stops the run; a driver OOM must end
          // the JVM, not keep "benchmarking" a corrupted heap
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch {
              case e: InterruptedException =>
                Thread.currentThread().interrupt(); throw e
              case scala.util.control.NonFatal(_) => false
            }
          val dt = (System.nanoTime() - q0) / 1e9
          // drain the async bus OUTSIDE the timed region, then read
          // the query's executor-task-time delta (scaling contract —
          // see `obs`)
          try org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
          catch { case scala.util.control.NonFatal(_) => () }
          val taskS = (obs.totals.runTimeMs - task0) / 1e3
          if ((p > 0 || !ok) && ok)
            taskSecs(named(i)._1) =
              taskSecs.getOrElse(named(i)._1, Vector.empty) :+ taskS
          // wall-clock-stamped progress on stderr (never the stdout
          // tail), carrying the JVM/host state AT that moment (r14
          // verdict #2/#3): code-cache residency (the saturation slow
          // mode), heap, host load and cumulative steal — a killed
          // run's stderr tail alone now says WHY a pass was slow
          System.err.println(
            s"[bench-progress] ${System.currentTimeMillis()} p$p$tag " +
              s"${named(i)._1} ${fmt(dt)} cc=${codeCacheUsedMb}m " +
              s"heap=${(Runtime.getRuntime.totalMemory -
                Runtime.getRuntime.freeMemory) / (1024 * 1024)}m " +
              s"load=$load1 steal=$stealJiffies")
          Dev.sweepBlocks(spark, before)
          if (p > 0 || !ok)
            runs(i) :+= (if (ok) dt else -1.0)
        }
      }
      // per-PASS health row (r10 verdict #4): the tier's slow mode
      // clusters in the LAST interleaved pass — attribution needs the
      // accumulation signals (GC share, heap residency, leftover
      // persisted blocks, on-disk shuffle residue) per pass boundary,
      // not per query
      if (health != null) try {
        val rt = Runtime.getRuntime
        health += s"""{"pass":$p,"wall_s":${fmt((System.nanoTime() - t0) / 1e9)},""" +
          s""""gc_ms":${totalGcMs - gc0},""" +
          s""""heap_used_mb":${(rt.totalMemory - rt.freeMemory) / (1024 * 1024)},""" +
          s""""persisted_rdds":${Dev.persistedIds(spark).map(_.size).getOrElse(-1)},""" +
          s""""blockdir_mb":${blockDirBytes / (1024 * 1024)},""" +
          s""""codecache_mb":$codeCacheUsedMb,""" +
          s""""load1":"$load1","steal_j":$stealJiffies}"""
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    runs
  }

  private def runsJson(named: Seq[(String, _)], runs: Array[Vector[Double]]): String =
    named.indices.map { i =>
      "\"" + named(i)._1 + "\":[" + runs(i).map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")

  /** per-query [p25, p75] over the passes: the variance band a future
    * regression has to clear before it means anything. */
  private def spreadJson(named: Seq[(String, _)], runs: Array[Vector[Double]]): String =
    named.indices.map { i =>
      "\"" + named(i)._1 + "\":[" + fmt(pct(runs(i), 0.25)) + "," +
        fmt(pct(runs(i), 0.75)) + "]"
    }.mkString("{", ",", "}")

  /** The scale tier's rows (r11 verdict #1): the driver's unattended run
    * must fit its 1-hour wall budget — the r11 suite structurally
    * outgrew it (≈4,300 s: 48 tier rows × 6 passes + 4 composed
    * sections) and round 11 shipped with NO bench line (rc 124). The
    * default re-times only the rows whose operators changed in the
    * last two rounds (the graph family — where a regression could
    * actually originate) plus q210 as the cross-round anchor, at the
    * base pass count, with composed_v4 (the newest pipeline, whose DAG
    * subsumes v2/v3's stages) as the single composed section. */
  private val slimTierQueries = Seq(
    "q210_pagerank", "q222_pagerank_directed", "q224_hits",
    "q226_label_propagation", "q228_adamic_adar", "q229_sssp_trust",
    "q232_random_walk", "q235_louvain_sweep", "q236_ktruss_peel",
    "q237_pagerank_weighted", "q238_walk_ppmi",
    "q240_weighted_label_propagation", "q241_conductance",
    "q242_louvain_levels", "q243_onion_layers")

  /** Synthesize a cost-profile-preserving `copies`× tier from `src`
    * into `out` (bench-only — the driver testdata is read-only and has
    * no sf0.3). Replication keeps each operator's asymptotics honest
    * instead of degenerating into a duplicate-detection stress test:
    *  - big-table keys shift into disjoint ranges per copy;
    *  - embeddings get a deterministic per-component perturbation
    *    (copies are nearby but DISTINCT vectors, so ANN candidate
    *    sets grow ~linearly rather than every copy being an exact
    *    twin of its source);
    *  - document words carry a per-copy suffix (no artificial
    *    cross-copy boilerplate for the dedup family);
    *  - timestamps shift one era per copy, so range joins over the
    *    date axis grow linearly, as a longer production history would.
    * Copy 0 is bit-identical to the source; dims copy verbatim. */
  private def buildScaleTier(spark: SparkSession, src: String, out: String,
      copies: Int): Unit = {
    import org.apache.spark.sql.functions._
    def cexp = explode(sequence(lit(0L), lit((copies - 1).toLong))).as("__c")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    write(Tables(spark, src, "embeddings").select(col("*"), cexp)
      .select((col("vec_id") + col("__c") * 10000000L).as("vec_id"),
        when(col("__c") === 0L, col("embedding")).otherwise(expr(
          """transform(embedding, (x, j) -> CAST(x +
             CAST(hash(vec_id * 64 + j, __c) % 97 AS DOUBLE) / 1.0e5
             AS FLOAT))""")).as("embedding"),
        col("label")), "embeddings")
    write(Tables(spark, src, "documents").select(col("*"), cexp)
      .select((col("doc_id") + col("__c") * 10000000L).as("doc_id"),
        when(col("__c") === 0L, col("text")).otherwise(expr(
          """array_join(transform(split(text, ' '),
             w -> concat(w, CAST(__c AS STRING))), ' ')""")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    // fact tables: key columns shift per copy, timestamps shift one
    // 40-year era per copy, everything else rides unchanged
    def replicateFacts(name: String, keyCols: Set[String]): Unit = {
      val t = Tables(spark, src, name)
      val projected = t.schema.fields.map { f =>
        if (keyCols.contains(f.name))
          (col(f.name) + col("__c") * 100000000L).as(f.name)
        // parquet timestamps surface as TIMESTAMP or TIMESTAMP_NTZ
        // depending on the writer's isAdjustedToUTC — match by name so
        // neither flavor silently skips the era shift
        else if (f.dataType.typeName.startsWith("timestamp"))
          expr(s"timestampadd(YEAR, CAST(__c * 40 AS INT), ${f.name})")
            .as(f.name)
        else col(f.name)
      }
      write(t.select(col("*"), cexp).select(projected.toIndexedSeq: _*), name)
    }
    replicateFacts("lineitem", Set("l_orderkey"))
    // o_custkey shifts too: the affiliation-graph queries build distinct
    // (suppkey, custkey) pairs, and identical key spaces per copy would
    // collapse under the distinct — shifted customers give the graph 3×
    // edges over a SHARED supplier side (a growing crawl with stable
    // hosts). No scale-tier query joins orders→customer, so the
    // verbatim customer dim stays consistent for everything measured.
    replicateFacts("orders", Set("o_orderkey", "o_custkey"))
    replicateFacts("events", Set("event_id"))
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(Tables(spark, src, t), t))
  }

  /** The run's one metrics listener, registered in main for the whole
    * run. Executor task time is the scaling-contract signal (r17
    * verdict #2/#4): the driver's low-core probe cannot distinguish
    * "bench ignores $SPARK_GRAFT_CPUS" from "honors it but the queries
    * are checkpoint-latency-bound at sf0.1" from wall time alone,
    * because a latency-bound query barely moves 8→32 cores.
    * task_time/wall says it directly: a query with task_time ≈ wall is
    * serial/latency-bound (flat core scaling is EXPECTED); task_time ≫
    * wall is parallel compute that must scale with cores. Deltas are
    * read after a listener-bus drain so a query's tail tasks land on
    * it, not its neighbor. */
  private val obs = new graft.obs.Collector
  /** name -> executor task seconds per kept pass (parallel to the
    * wall-time `runs` vectors; merged across base/stabilize/widen). */
  private val taskSecs =
    scala.collection.mutable.Map.empty[String, Vector[Double]]

  /** One extra instrumented pass over the scale-tier queries,
    * attributing shuffle read/write and spill bytes to each (drained
    * between queries so async listener delivery can't smear a query's
    * bytes into its neighbor). Wall time tells you a query got slower;
    * these tell you WHY at 3× data — a shuffle that grew faster than
    * the data is the 100 TB red flag even when local wall time hides
    * it behind fixed costs. Plans are deterministic, so one pass is
    * representative. */
  private def scaleShuffleJson(spark: SparkSession, scaleDir: String,
      named: Seq[(String, (SparkSession, String) => DataFrame)]): String = {
    val mb = 1024.0 * 1024.0
    named.map { case (name, fn) =>
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val m0 = obs.totals
      val before = Dev.persistedIds(spark)
      try fn(spark, scaleDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
      Dev.sweepBlocks(spark, before)
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val m = obs.totals - m0
      s""""$name":{"write_mb":${fmt(m.shuffleWrite / mb)},""" +
        s""""read_mb":${fmt(m.shuffleRead / mb)},""" +
        s""""spill_mb":${fmt(m.spill / mb)}}"""
    }.mkString("{", ",", "}")
  }

  /** Rehearsal of the v4 (rank + tier gated) pipeline: ONE source
    * affinity graph feeds PageRank authority AND seed-clamped label
    * propagation; both host-sized verdict frames gate docs in one
    * pass before the nine v2 stages; build + the four-gate audit
    * frame (leakage, PSI, rank_gate, tier_gate) time as one pass.
    * ONE timed pass (r17 verdict #10: the driver's run tripped its
    * 2700 s budget AT phase_composed_v4 two rounds running — one
    * measured pass inside the budget beats two that never happen). */
  private def composedV4Section(spark: SparkSession, scaleDir: String): String =
    try {
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val m0 = obs.totals
      obs.markPeak()
      val before = Dev.persistedIds(spark)
      val t0 = System.nanoTime()
      val docs = Tables(spark, scaleDir, "documents")
      val (chunks, audit) =
        graft.ops.CorpusPipelineV2.buildAndAuditTierGated(docs)
      chunks.write.format("noop").mode("overwrite").save()
      audit.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Dev.sweepBlocks(spark, before)
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark)
      val m = obs.totals - m0
      val mb = 1024.0 * 1024.0
      s""","composed_v4":{"stages":"affinity_graph>(rank_gate|tier_gate)>q149>q76>q143>q99>q62>q126>q150>q88>q132+audits(q151,q159,rank_gate,tier_gate)",""" +
        s""""runs":[${fmt(dt)}],""" +
        s""""shuffle_write_mb":${fmt(m.shuffleWrite / mb)},""" +
        s""""shuffle_read_mb":${fmt(m.shuffleRead / mb)},""" +
        s""""peak_stage_shuffle_write_mb":${fmt(obs.peakStageShuffleWrite / mb)},""" +
        s""""disk_spill_mb":${fmt(m.spill / mb)}}"""
    } catch { case scala.util.control.NonFatal(e) =>
      s""","composed_v4":{"error":"${e.getClass.getSimpleName}"}"""
    }

  def main(args: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // base KEPT passes: 2 since r15 (r14 verdict #5 — 245 queries × 4
    // sweeps ≈ 27 min of base wall before any tier work). Stable rows
    // (the measured majority: 3-pass spread < 1.3× round over round)
    // lose nothing to a median-of-2; rows whose 2 passes disagree by
    // >1.3× get a third stabilizing pass, and rows over the 2× health
    // bar still get the full widen adjudication below.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_tier")
    // Wall-clock budget (r14 verdict #1 — the driver kills the bench
    // at ~60 min and r14 died rc=124 with every measured number lost).
    // Default 2700 s from main() entry: the driver window minus sbt
    // startup/compile, minus slack for the one in-flight query a
    // between-queries check can't preempt. Checked between passes'
    // queries, between widen candidates, and between tier phases; when
    // exceeded the run SKIPS remaining phases and ships what it has
    // with a "budget_exceeded" marker. 0 disables.
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "2700").toInt
    val deadlineNs = if (budgetS <= 0) 0L else mainT0 + budgetS * 1000000000L
    val spark = Dev.session()
    // registered for the whole run; timePasses, the shuffle phase and
    // composed_v4 read per-query deltas
    spark.sparkContext.addSparkListener(obs)
    // warmup outside the timed region
    Dev.warmTables(spark, sfDir)
    warmupShufflePath(spark, sfDir)
    // SPARK_GRAFT_ONLY=q121,q114 times just those queries (prefix
    // match) — the dev loop for one perf experiment; the full-suite
    // contract (driver runs with the var unset) is unchanged. A
    // filtered run writes no BENCH_DETAIL.json, so it also skips the
    // scale tier and composed_v4.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // q244 runs Louvain TO CONVERGENCE (20–28 batch sweeps per level,
    // ~85 s at sf0.1) and q246 is its γ = 3/2 static-sweep sibling
    // (~23 s): both are loops over exactly the sweep/contract shapes
    // the slim tier re-times every round (q235/q242), so timing them
    // in the base passes spends driver budget for no new scaling
    // signal (r14 verdict #5). q247 (two 4-sweep chains, ~46 s quiet)
    // and its ARI sibling q248 (the same two chains plus one scalar
    // row) moved out with them in r16 (r15 verdict #2 — q247 alone was
    // ~10% of every base pass); together these skips put the base
    // section under the 20-minute driver target. graft.Profile times
    // them ad hoc, and Verify/CORRECTNESS check them at sf0.01 like
    // every query.
    // q252 (NMI) joins them in r17: the identical two sweep chains
    // plus community-count-sized entropy aggregates
    val baseSkip = Set("q244_louvain_converge", "q246_louvain_resolution",
      "q247_community_stability", "q248_adjusted_rand",
      "q252_partition_nmi")
    val allNamed = SparkEntry.queries.toSeq.sortBy(_._1)
    val named = only.fold(allNamed.filterNot(q => baseSkip(q._1)))(f =>
      allNamed.filter(q => f.exists(q._1.startsWith)))
    // output is keyed by the qNN prefix; a collision would silently
    // merge two queries' timings into one JSON key
    val prefixes = named.map(_._1.takeWhile(_ != '_'))
    require(prefixes.distinct.size == prefixes.size,
      s"duplicate qNN prefixes: ${prefixes.diff(prefixes.distinct).distinct}")
    // Heavy-tail hygiene (r8 verdict #3): the untimed warm-up removes
    // the cold-read class, but HOST interference (another process
    // stealing the cores mid-pass) can still disturb one pass, and
    // with few kept passes that outlier sits next to the median (r8's
    // q147: [2.22, 17.91, 8.23] reported 8.23 s — 4× its repeatable
    // cost). Queries whose kept passes spread max/min > 2 get two
    // extra passes and report the median of all kept, so one disturbed
    // pass can never be the p50 neighbor. The trigger matches the <2
    // max/median HEALTH BAR (the r13 full-tier run had 4 rows violate
    // the bar at max/min 2.2–2.8 while the old >3 trigger slept —
    // a widen rule the health bar can't invoke is no adjudicator).
    // Sub-0.5 s queries are exempt — their spread is JIT/GC jitter,
    // not host interference. Since r15 the rule is BOUNDED (verdict
    // #1c): candidates run one at a time cheapest-first under a wall
    // cap and a per-row median ceiling (widenPlan), and every extra
    // pass checks the global deadline — a disturbed host now costs at
    // most the cap, never the round's artifact.
    // base and tier widen skips recorded SEPARATELY (ADVICE r15): one
    // flat buffer conflated the two sections in BENCH_DETAIL.json,
    // obscuring which reported medians kept their noise
    val widenSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val tierWidenSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    def widen(runsIn: Array[Vector[Double]],
        namedIn: Seq[(String, (SparkSession, String) => DataFrame)],
        dir: String,
        skipLog: scala.collection.mutable.ArrayBuffer[String])
        : Array[Vector[Double]] = {
      val (order, skipped) = widenPlan(runsIn.toIndexedSeq,
        skipAboveS = 15.0, wallCapS = 240.0)
      skipLog ++= skipped.map(namedIn(_)._1)
      val out = runsIn.clone()
      for (qi <- order) {
        if (!tripBudget("widen", deadlineNs)) {
          // warmup=false: the row ran minutes ago in the base passes —
          // 2 timed passes here, not 1 untimed + 2 timed
          val extra = timePasses(spark, dir, Seq(namedIn(qi)), 2,
            warmup = false, deadlineNs = deadlineNs, tag = "w")
          out(qi) = out(qi) ++ extra(0)
        } else skipLog += namedIn(qi)._1
      }
      out
    }
    // stabilize (r14 verdict #5): with 2 kept passes, rows whose two
    // samples disagree by >1.3× (above the jitter floor) get ONE more
    // interleaved pass, so the reported median is a real vote — the
    // stable majority stays at 2 passes and the section's wall drops
    // by a full sweep. Applied to the TIER rows too since r16 (ADVICE
    // r15 medium): a 2-sample tier row in the 1.3×–2× band was below
    // the widen health bar and reported the mean of a disturbed pair.
    def stabilize(runsIn: Array[Vector[Double]],
        namedIn: Seq[(String, (SparkSession, String) => DataFrame)],
        dir: String): Unit = {
      val unstable = namedIn.indices.filter { i =>
        val ok = runsIn(i).filter(_ > 0)
        ok.size >= 2 && ok.max > 0.5 && ok.max / math.max(ok.min, 1e-9) > 1.3
      }
      if (unstable.nonEmpty && !tripBudget("stabilize", deadlineNs)) {
        val extra = timePasses(spark, dir, unstable.map(namedIn),
          1, warmup = false, deadlineNs = deadlineNs, tag = "s")
        unstable.zipWithIndex.foreach { case (qi, ei) =>
          runsIn(qi) = runsIn(qi) ++ extra(ei) }
      }
    }
    val baseHealth = scala.collection.mutable.ArrayBuffer.empty[String]
    val baseRuns = timePasses(spark, sfDir, named, passes, baseHealth,
      deadlineNs = deadlineNs)
    stabilize(baseRuns, named, sfDir)
    val runs = widen(baseRuns, named, sfDir, widenSkipped)
    val results = named.indices.map(i => named(i)._1 -> median(runs(i)))
    val floors = named.indices.map(i => named(i)._1 -> minRun(runs(i)))
    // ---- EARLY, FAIL-SAFE EMISSION (r14 verdict #1a) ----
    // Everything below prints BEFORE the tier starts: the base detail
    // sidecar, the per-query median line, and a complete summary line.
    // r14 emitted the summary only as the process's final line, after
    // every optional tier/composed phase — the driver's wall-budget
    // kill (rc=124) lost every already-measured number. Now a kill can
    // only cost the tier extras; the round's artifact survives.
    val detail = runsJson(named, runs)
    val spread = spreadJson(named, runs)
    def budgetJson: String = {
      val hit = budgetHit.get
      s""""budget":{"budget_s":$budgetS,"exceeded":${hit != null}""" +
        (if (hit == null) ""
         else s""","tripped_at":"${graft.io.Sink.jsonEscape(hit)}"""") + "}"
    }
    def widenSkippedJson: String =
      s""""widen_skipped":[${widenSkipped.map("\"" + _ + "\"").mkString(",")}]"""
    // incremental sidecar (r14 verdict #2): base section flushed to
    // disk before the tier begins; the post-tier rewrite appends the
    // scale/composed sections — a killed run still leaves a complete,
    // parseable base artifact on disk. A filtered dev run must not
    // overwrite the driver's full sidecar.
    // per-query floor map + aggregate floor_total (r15 verdict #1):
    // min-vs-min round-over-round must be computable from the two
    // official artifacts alone — r15's environment-vs-code attribution
    // (medians 1.27×, floors 1.074×) needed a hand-launched quiet
    // rerun precisely because the artifacts carried only medians
    val floorMap = floors.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val floorTotal = floors.map(_._2).filter(_ >= 0).sum
    def writeDetail(scalePart: String): Unit = if (only.isEmpty) try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(s"""{"passes":$passes,"sf":"$sfDir","spread":$spread,""" +
        s""""runs":$detail,"floor":$floorMap,""" +
        s""""floor_total":${fmt(floorTotal)},""" +
        s""""pass_health":[${baseHealth.mkString(",")}],""" +
        s"""$widenSkippedJson,$budgetJson$scalePart}""")
      finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    writeDetail("")
    println(s"[bench-detail] $detail")
    // The full per-query {median, min} map is printed as CHUNKED
    // lines (r16 verdict #2): one ~8 KB line was bigger than the
    // harness's bounded stdout tail, so the r16 artifact's re-printed
    // copy lost its head (q01–q44) to mid-line truncation. Each chunk
    // is a standalone ≤ ~2 KB JSON object tagged `i/n`, so however
    // the tail cuts, every surviving chunk parses and the marker says
    // exactly which parts are missing; the committed BENCH_DETAIL.json
    // (un-gitignored the same round) carries the complete map
    // regardless.
    val qEntries = results.zip(floors).map { case ((k, v), (_, f)) =>
      "\"" + k.takeWhile(_ != '_') + "\":{\"med\":" + fmt(v) +
        ",\"min\":" + fmt(f) + "}" }
    val qChunks = qEntries.grouped(40).map(_.mkString("{", ",", "}")).toSeq
    def printQueryMap(): Unit =
      qChunks.zipWithIndex.foreach { case (c, i) =>
        println(s"[bench-queries ${i + 1}/${qChunks.size}] $c") }
    printQueryMap()
    val total = results.map(_._2).filter(_ >= 0).sum
    // The summary line is compact (≤ ~400 bytes): the suite total, the
    // query count, and the medians of just the scale-tier headline
    // rows — everything else lives in [bench-queries] above and in
    // BENCH_DETAIL.json (runs, spreads, tier, shuffle, composed).
    val headline = results.filter(r => slimTierQueries.contains(r._1))
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-headline-row executor task seconds (median over kept passes)
    // — the r17 verdict #2 scaling-contract addition: task_time/wall ≈ 1
    // reads "latency-bound, flat core scaling expected"; ≫ 1 reads
    // "parallel compute, must scale with $SPARK_GRAFT_CPUS". The bench
    // honors the env var (Dev.session: master local[$cpus]); this
    // makes that distinguishable from the outside.
    val taskLine = results.filter(r => slimTierQueries.contains(r._1))
      .map { case (k, _) =>
        "\"" + k.takeWhile(_ != '_') + "\":" +
          fmt(median(taskSecs.getOrElse(k, Vector.empty))) }
      .mkString("{", ",", "}")
    def summaryLine(phaseTag: String): String = {
      val hit = budgetHit.get
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""floor_total":${fmt(floorTotal)},""" +
        s""""n_queries":${results.size},"queries":$headline,""" +
        s""""cpus":$cpus,"task_time":$taskLine,""" +
        s""""sf":"$sfDir","passes":$passes,"phase":"$phaseTag"""" +
        (if (hit == null) "" else ""","budget_exceeded":true""") + "}"
    }
    // a complete summary NOW — if the driver kills the tier below,
    // this line is the last complete JSON on stdout and parses
    println(summaryLine("base"))
    // scale tier: replicate sf0.1 three times into /tmp and re-time
    // the slim rows there — sf0.1 medians sit at the plan+codegen fixed
    // cost, so only the tier shows data-dependent regressions. Every
    // PHASE is guarded independently (r11 verdict #2): one fatal error
    // late in the tier must discard only its own phase, never the
    // already-measured rows — partial results ship with the error
    // attached under "errors".
    val scaleCopies = 3
    val scaleSection =
      if (only.isDefined) ""
      else {
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        val errs = scala.collection.mutable.ArrayBuffer.empty[String]
        def phase(name: String)(body: => Unit): Boolean = {
          val stopped =
            try spark.sparkContext.isStopped
            catch { case scala.util.control.NonFatal(_) => true }
          if (stopped) {
            errs += s""""$name":"skipped: SparkContext stopped""""; false
          // budget check BETWEEN phases (r14 verdict #1b): past the
          // deadline, remaining phases are skipped — what's measured
          // ships, with the skip recorded per phase
          } else if (tripBudget(s"phase_$name", deadlineNs)) {
            errs += s""""$name":"skipped: budget_exceeded""""; false
          } else try { body; true }
          catch {
            // swallow only NonFatal (r12 advice): an interrupt restores
            // the flag and ends the run; OOM and friends propagate —
            // numbers from a corrupted JVM are worse than no numbers
            case e: InterruptedException =>
              Thread.currentThread().interrupt(); throw e
            case scala.util.control.NonFatal(e) =>
              errs += "\"" + name + "\":\"" + graft.io.Sink.jsonEscape(
                e.getClass.getName + ": " +
                  String.valueOf(e.getMessage).take(200)) + "\""
              false
          }
        }
        val heavy = named.filter(q => slimTierQueries.contains(q._1))
        val composed = new StringBuilder
        val built = phase("tier_build") {
          buildScaleTier(spark, sfDir, scaleDir, scaleCopies)
        }
        if (built) {
          // same warmup contract as the primary tier: cold columnar
          // reads of the freshly-written tier files must not land on
          // whichever heavy query happens to touch a table first
          phase("tier_warmup") { Dev.warmTables(spark, scaleDir) }
          phase("tier_runs") {
            val tierHealth =
              scala.collection.mutable.ArrayBuffer.empty[String]
            // widen() applies to the TIER rows too (r12 verdict #4 /
            // next #3): the tier already pays an untimed pass 0 over
            // its own rows, yet kept passes still spiked 2–5.5× on
            // 5/15 rows (host interference / page-cache writeback of
            // the freshly-written tier files) — and 3 kept passes
            // cannot out-vote one disturbed pass. Noisy rows get two
            // extra passes and report the median-of-5, so one
            // disturbed pass can never sit next to the median.
            val traw = timePasses(spark, scaleDir, heavy, passes,
              tierHealth, deadlineNs = deadlineNs)
            stabilize(traw, heavy, scaleDir)
            val sruns = widen(traw, heavy, scaleDir, tierWidenSkipped)
            parts += s""""spread":${spreadJson(heavy, sruns)}"""
            parts += s""""runs":${runsJson(heavy, sruns)}"""
            parts += s""""pass_health":[${tierHealth.mkString(",")}]"""
            parts += s""""widen_skipped":[${
              tierWidenSkipped.map("\"" + _ + "\"").mkString(",")}]"""
          }
          phase("shuffle") {
            parts += s""""shuffle":${scaleShuffleJson(spark, scaleDir, heavy)}"""
          }
          // v4's DAG subsumes the v2 stages and the v3 rank gate, so
          // it is the only composed section; like the tier phases it
          // runs only over a built scaleDir (r12 advice)
          phase("composed_v4") {
            composed ++= composedV4Section(spark, scaleDir) }
        }
        val head = Seq(
          s""""dir":"${graft.io.Sink.jsonEscape(scaleDir)}"""",
          s""""mode":"slim"""",
          s""""copies":$scaleCopies""") ++ parts ++
          (if (errs.isEmpty) Nil
           else Seq(s""""errors":{${errs.mkString(",")}}"""))
        s""","scale":{${head.mkString(",")}}""" + composed.result()
      }
    // post-tier rewrite: the same base sections plus the scale/composed
    // results (and the final budget state — a mid-tier trip is visible)
    writeDetail(scaleSection)
    // stop BEFORE printing: executor/shutdown log lines must not land
    // after the JSON line and push it out of the harness's stdout tail
    spark.stop()
    // re-print the per-query map AFTER the tier (ADVICE r15): on a
    // successful long tier run the harness's bounded stdout tail can
    // drop the pre-tier copy — tail-only consumers get the medians
    // either way (killed run: the early copy; completed run: this one)
    printQueryMap()
    // the updated final line — identical medians to the "base" line
    // (the tier never changes the base medians), now marked complete;
    // whichever line is last on a given run's stdout parses
    println(summaryLine("final"))
  }
}
