package graft

import graft.ops.{Bpe, CorpusPipelineV2, Graph, Iterate, Pca, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

/** Pins the checkpoint-release discipline of [[graft.ops.Iterate]]:
  * a scope releases every cut its result cannot read, loops keep ONE
  * live round (each round's checkpoint releases the superseded round —
  * the r9 verdict's leak), and a released round's blocks really leave
  * `getPersistentRDDs`. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  private def ids: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Persisted RDD ids created since `before`. Ids, not a size delta:
    * the suite-shared session's ContextCleaner may concurrently drop
    * an older suite's GC'd blocks, which a delta would misread. */
  private def fresh(before: Set[Int]): Set[Int] = ids -- before

  private def sweep(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  /** Ids of the checkpoints the DataFrames in `result` (the value, or
    * the fields of a tuple or case class) read as plan leaves. */
  private def planReads(result: Any): Set[Int] = result match {
    case df: Dataset[_] =>
      df.queryExecution.logical
        .collectWithSubqueries { case lr: LogicalRDD => lr.rdd.id }.toSet
    case p: Product => p.productIterator.flatMap(planReads).toSet
    case _          => Set.empty
  }

  test("advance keeps exactly one live round and the result stays readable") {
    val before = ids
    Iterate.scope {
      var df = Seq(1L, 2L, 3L).toDF("x")
      for (_ <- 1 to 5)
        df = Iterate.advance(df, df.withColumn("x", $"x" + 1L))
      // 5 rounds later: ONE live checkpoint, not five
      assert(fresh(before).size == 1)
      // the kept (final) round is the one still readable
      assert(df.agg(sum($"x")).head().getLong(0) == 21L)
    }
    // the scope's result reads nothing, so the final round is gone too
    assert(fresh(before).isEmpty)
  }

  test("advance never releases a checkpoint its scope did not make") {
    val before = ids
    val supplied = Seq(1L, 2L, 3L).toDF("x").localCheckpoint(true)
    Iterate.scope {
      Iterate.advance(supplied, supplied.withColumn("x", $"x" + 1L))
      ()
    }
    assert(fresh(before) == planReads(supplied))
    assert(supplied.agg(sum($"x")).head().getLong(0) == 6L)
    sweep(before)
  }

  test("scope: a nested scope hands the cut its result reads to the enclosing scope") {
    val before = ids
    val total = Iterate.scope {
      val inner = Iterate.scope {
        val dropped = Iterate.cut(Seq(1L, 2L).toDF("x"))
        Iterate.cut(dropped.select(($"x" * 10L).as("x"))).filter($"x" > 0L)
      }
      // the inner scope released `dropped` and kept what `inner` reads
      assert(fresh(before) == planReads(inner) && fresh(before).size == 1)
      inner.agg(sum($"x")).head().getLong(0)
    }
    assert(total == 30L)
    // the enclosing scope owned the handed-over cut; its result (a
    // Long) reads nothing, so the cut is released at its exit
    assert(fresh(before).isEmpty)
  }

  test("scope: a result built from createDataFrame(cut.rdd) keeps that cut") {
    val before = ids
    val out = Iterate.scope {
      val c = Iterate.cut(Seq(1L, 2L, 3L).toDF("x"))
      Iterate.cut(Seq(9L).toDF("x")) // read by nothing: released
      spark.createDataFrame(c.rdd.map(r => Row(r.getLong(0) * 2L)), c.schema)
    }
    // the result's leaf is a fresh LogicalRDD over a mapped RDD; the cut
    // is reachable only through its dependencies
    assert(fresh(before).size == 1 && (fresh(before) & planReads(out)).isEmpty)
    assert(out.agg(sum($"x")).head().getLong(0) == 12L)
    sweep(before)
  }

  test("scope: an exception inside the body releases every cut it made") {
    val before = ids
    val err = intercept[IllegalStateException] {
      Iterate.scope {
        val a = Iterate.cut(Seq(1L).toDF("x"))
        Iterate.cut(a.select(($"x" + 1L).as("x")))
        assert(fresh(before).size == 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert(fresh(before).isEmpty)
  }

  test("release is a no-op on composite plans (never frees a shared upstream)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val cp = Seq(1, 2, 3).toDF("x").localCheckpoint(true)
    val base = persisted
    val derived = cp.filter($"x" > 1) // composite plan OVER the checkpoint
    Iterate.release(derived)
    assert(persisted == base, "releasing a derived frame must not free its parent")
    assert(cp.count() == 3L)
    Iterate.release(cp) // bare checkpoint: releases
    assert(persisted == base - 1)
    sweep(before)
  }

  test("cut: checkpoint size estimates stay bounded through join loops") {
    // localCheckpoint copies the source plan's estimated Statistics
    // onto its LogicalRDD, and Catalyst's size-only estimator
    // MULTIPLIES child sizes through joins — a loop that self-joins
    // its own checkpoint squares the estimate every round, and the
    // digit count doubles until the driver drowns in BigInteger
    // arithmetic (measured: 2.5 s sweeps → 115 s by sweep 13). cut()
    // clamps the estimate, so it stays a sane constant forever.
    import org.apache.spark.sql.functions.col
    def round(df: org.apache.spark.sql.DataFrame) =
      df.as("a").join(df.as("b"), col("a.k") === col("b.k"))
        .select(col("a.k").as("k"))
    var clamped = Iterate.cut(Seq(1, 2, 3).toDF("k"))
    var bare = Seq(1, 2, 3).toDF("k").localCheckpoint(true)
    for (_ <- 1 to 8) {
      clamped = Iterate.cut(round(clamped))
      bare = round(bare).localCheckpoint(true)
    }
    val clampedSize =
      clamped.queryExecution.optimizedPlan.stats.sizeInBytes
    val bareSize = bare.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(clampedSize <= BigInt(Long.MaxValue),
      s"clamped estimate escaped: $clampedSize")
    // the contrast that makes the clamp load-bearing: the bare loop's
    // estimate is already astronomically past any physical size
    assert(bareSize > BigInt(Long.MaxValue).pow(8), s"bare: $bareSize")
    // and the clamp never touches the data
    assert(clamped.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    Iterate.release(clamped)
    Iterate.release(bare)
  }

  test("clamp alters ONLY sizeInBytes: constraints and rowCount ride through") {
    // r13 advice: the clamped LogicalRDD used to be rebuilt with
    // originConstraints = None (and a Statistics carrying only
    // sizeInBytes), so a clamped checkpoint silently lost the
    // constraint propagation an unclamped one keeps. Pin the contract:
    // everything except sizeInBytes is preserved bit-for-bit.
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.functions.col
    def round(df: org.apache.spark.sql.DataFrame) =
      df.as("a").join(df.as("b"), col("a.k") === col("b.k"))
        .select(col("a.k").as("k"))
    // the filter plants a constraint (k > 0, isnotnull(k)) that the
    // checkpoint captures as originConstraints
    var bare = Seq(1, 2, 3).toDF("k").filter($"k" > 0).localCheckpoint(true)
    for (_ <- 1 to 8) bare = round(bare).localCheckpoint(true)
    val lrBare = bare.queryExecution.logical.asInstanceOf[LogicalRDD]
    // precondition: the estimate really is past the clamp bound
    assert(lrBare.computeStats().sizeInBytes > BigInt(Long.MaxValue))
    assert(lrBare.constraints.nonEmpty,
      "fixture must carry a constraint through the checkpoint")
    val clamped = GraftSqlBridge.clampCheckpointStats(bare)
    val lrC = clamped.queryExecution.logical.asInstanceOf[LogicalRDD]
    assert(lrC.computeStats().sizeInBytes <= BigInt(Long.MaxValue))
    assert(lrC.constraints == lrBare.constraints,
      s"clamp dropped constraints: ${lrC.constraints} vs ${lrBare.constraints}")
    assert(lrC.computeStats().rowCount == lrBare.computeStats().rowCount)
    assert(lrC.computeStats().attributeStats ==
      lrBare.computeStats().attributeStats)
    Iterate.release(clamped)
  }

  test("pageRank persisted-RDD count is iteration-independent") {
    val edges = {
      val fwd = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
      fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    }
    def runAndCount(iters: Int): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      Graph.pageRank(edges, iters).collect()
      // count only ids THIS run created: the suite-shared session's
      // ContextCleaner may concurrently drop an older suite's GC'd
      // blocks, which a size delta would misread as a shrink
      val grew = spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).size
      sweep(before)
      grew
    }
    // upper bounds, not equality: the suite-shared ContextCleaner may
    // reap a GC'd final-round RDD between collect and count, so counts
    // can only SHRINK nondeterministically — the leak this spec guards
    // against would make the high-round count proportional to rounds
    // (old code: 8 iterations -> 9+ persisted frames)
    assert(runAndCount(2) <= 5)
    val g8 = runAndCount(8)
    assert(g8 <= 5, s"pageRank leaves $g8 persisted frames (want static+1)")
  }

  test("kCorePeel persisted-RDD count is round-independent") {
    val fwd = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e")).toDF("src", "dst")
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    def runAndCount(rounds: Int): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      Graph.kCorePeel(edges, k = 3, rounds = rounds).collect()
      val grew = spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).size
      sweep(before)
      grew
    }
    assert(runAndCount(2) <= 3)
    val g6 = runAndCount(6)
    assert(g6 <= 3, s"kCorePeel leaves $g6 persisted frames (want 2 slots)")
  }

  test("connectedComponents persisted-RDD count is diameter-independent") {
    // a chain needs O(length) min-label rounds — the growth case
    def chain(n: Int) = (1 until n).map(i => (i.toLong, (i + 1).toLong))
    def runAndCount(n: Int): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val edges = chain(n).toDF("d1", "d2")
      val nodes = (1 to n).map(_.toLong).toDF("node")
      TextOps.connectedComponents(edges, nodes).collect()
      val grew = spark.sparkContext.getPersistentRDDs.keySet
        .diff(before).size
      sweep(before)
      grew
    }
    assert(runAndCount(4) <= 2)
    val g12 = runAndCount(12)
    assert(g12 <= 2, s"connectedComponents leaves $g12 persisted frames")
  }

  test("randomWalk releases its per-step frames (keeps static cuts + trajectory)") {
    // The walk once kept steps+1 walker-sized checkpoints persisted
    // for the session with no in-call release. Now the assembled
    // trajectory is cut once and its scope releases the step leaves
    // and the static cuts: whatever the step count, the walk leaves
    // only its trajectory leaf.
    // The count must see only the walk's OWN releases: once the walk
    // returns, its static cuts are unreachable, and a GC lets Spark's
    // ContextCleaner unpersist them before the count. A planner
    // strategy that plans nothing holds every logical plan the walk
    // plans — and through them every cut — until the count is taken.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val fwd = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    val held = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    object Hold extends SparkStrategy {
      def apply(p: LogicalPlan): Seq[SparkPlan] = {
        held.synchronized(held += p); Nil
      }
    }
    def leftover(steps: Int): Int = {
      val pre = spark.sparkContext.getPersistentRDDs.keySet.toSet
      Graph.randomWalk(edges, Seq("a", "b").toDF("node"), steps).collect()
      spark.sparkContext.getPersistentRDDs.keySet.count(!pre.contains(_))
    }
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = prev :+ Hold
    val (l3, l8) =
      try (leftover(3), leftover(8))
      finally spark.experimental.extraStrategies = prev
    assert(l3 == l8, s"step-dependent leak: $l3 vs $l8")
    assert(l3 <= 4, s"expected <= 4 live frames, got $l3")
    sweep(before)
    held.synchronized(held.clear())
  }

  test("every scoped operator leaves persisted exactly the checkpoints its result reads") {
    def sym(pairs: (String, String)*) = {
      val fwd = pairs.toDF("src", "dst")
      fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    }
    // two triangles joined by c–d, plus a pendant g
    val edges = sym(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("f", "g"))
    val weighted = edges.withColumn("w", lit(2L))
    val seeds = Seq("a").toDF("node")
    val labelSeeds = Seq(("a", "x"), ("g", "y")).toDF("node", "label")
    val comm = edges.select($"src".as("node")).distinct()
      .select($"node", when($"node" < "d", "l").otherwise("r").as("label"))
    val directed = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("src", "dst")
    // K4 on 1..4 plus the pendant pair (4, 5), d1 < d2
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("d1", "d2")
    def chain(n: Int) = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("d1", "d2")
    def chainNodes(n: Int) = (1 to n).map(_.toLong).toDF("node")
    val vecs = Similarity.withNorms(Seq((0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding"),
      $"vec_id", $"embedding")
    val centroids = vecs.filter($"id" === 0L || $"id" === 2L)
      .select($"id".as("cid"), $"emb".as("cemb"), $"norm2".as("cnorm2"))
    val pcaVecs = Seq(-2.0, -1.0, 0.0, 1.0, 2.0).zipWithIndex
      .map { case (t, i) => (i.toLong, Array(t, 2.0 * t)) }.toDF("id", "emb")
    val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("word", "cnt")
    // s1—s2—s3—s4 share 10-word lines (a path in the affinity graph)
    val docs = {
      def line(tag: String) = (1 to 10).map(i => s"$tag$i").mkString(" ")
      def tail(tag: String) = (1 to 15).map(i => s"${tag}u$i").mkString(" ")
      Seq((31L, line("aa") + " " + tail("d31"), "s1"),
        (33L, line("aa") + " " + tail("d33"), "s2"),
        (34L, line("bb") + " " + tail("d34"), "s2"),
        (35L, line("bb") + " " + tail("d35"), "s3"),
        (36L, line("cc") + " " + tail("d36"), "s3"),
        (37L, line("cc") + " " + tail("d37"), "s4"))
        .toDF("doc_id", "text", "source")
        .withColumn("n_chars", length($"text").cast("long"))
    }
    val tiers = Seq(("s1", "lo"), ("s2", "hi")).toDF("source", "tier")

    // (operator, checkpoints its result reads, bare barriers it leaves, call)
    val rows: Seq[(String, Int, Int, () => Any)] = Seq(
      ("pageRank, 2 rounds", 1, 0, () => Graph.pageRank(edges, 2)),
      ("pageRank, 8 rounds", 1, 0, () => Graph.pageRank(edges, 8)),
      ("pageRankDirected", 1, 0, () => Graph.pageRankDirected(directed, 3)),
      ("pageRankPersonalized", 1, 0,
        () => Graph.pageRankPersonalized(edges, seeds, 3)),
      ("hits", 2, 0, () => Graph.hits(directed, 3)),
      ("triangleStats", 2, 0, () => Graph.triangleStats(pairs)),
      ("labelPropagateWeighted", 1, 0,
        () => Graph.labelPropagateWeighted(weighted, labelSeeds, 3)),
      ("kCorePeel, 2 rounds", 1, 0, () => Graph.kCorePeel(edges, 2, 2)),
      ("kCorePeel, 6 rounds", 1, 0, () => Graph.kCorePeel(edges, 2, 6)),
      ("kTrussPeel", 1, 0, () => Graph.kTrussPeel(pairs, 4, 3)),
      ("onionPeel", 1, 0, () => Graph.onionPeel(edges, 3)),
      ("bfsFrontier", 1, 0, () => Graph.bfsFrontier(edges, seeds, 3)),
      ("sssp", 1, 0, () => Graph.sssp(weighted, seeds, 3)),
      ("randomWalk, 3 steps", 1, 0,
        () => Graph.randomWalk(edges, Seq("a", "e").toDF("node"), 3)),
      ("randomWalk, 8 steps", 1, 0,
        () => Graph.randomWalk(edges, Seq("a", "e").toDF("node"), 8)),
      // two levels: each level's labels, plus the contracted edges
      // level 2's Q ran on
      ("louvainConverge", 3, 0,
        () => Graph.louvainConverge(weighted, maxSweeps = 32, maxLevels = 8)),
      ("modularity", 1, 0, () => Graph.modularity(edges, comm)),
      ("modularityWeighted", 1, 0, () => Graph.modularityWeighted(weighted, comm)),
      ("conductance", 1, 0, () => Graph.conductance(edges, comm)),
      ("connectedComponents, chain of 4", 1, 0,
        () => TextOps.connectedComponents(chain(4), chainNodes(4))),
      ("connectedComponents, chain of 12", 1, 0,
        () => TextOps.connectedComponents(chain(12), chainNodes(12))),
      ("connectedComponentsStars", 1, 0,
        () => TextOps.connectedComponentsStars(chain(6), chainNodes(6))),
      // the contracted delivery, plus the labels of its components
      ("connectedComponentsIncremental", 2, 0,
        () => TextOps.connectedComponentsIncremental(
          chainNodes(4).select($"node", lit(1L).as("cluster")),
          Seq((4L, 10L), (20L, 21L)).toDF("d1", "d2"))),
      ("lloydCentroids", 1, 0, () => Similarity.lloydCentroids(vecs, centroids, 2)),
      // v and lambda, plus the bare covariance barrier
      ("powerComponent", 2, 1, () => Pca.powerComponent(Pca.covariance(pcaVecs), 3)),
      ("Bpe.trainDistributed", 1, 0, () => Bpe.trainDistributed(vocab, 4)),
      // the three stage barriers: sampled, unquoted, cleaned
      ("CorpusPipelineV2.stages", 3, 0, () => CorpusPipelineV2.stages(docs, true)),
      ("CorpusPipelineV2.keptWithSplit", 1, 0,
        () => CorpusPipelineV2.keptWithSplit(docs, true)),
      ("CorpusPipelineV2.build", 1, 0, () => CorpusPipelineV2.build(docs)),
      ("CorpusPipelineV2.audits", 1, 0, () => CorpusPipelineV2.audits(docs)),
      ("CorpusPipelineV2.summary", 5, 0, () => CorpusPipelineV2.summary(docs)),
      ("CorpusPipelineV2.rankGate", 1, 0, () => CorpusPipelineV2.rankGate(docs)),
      ("CorpusPipelineV2.tierGate", 1, 0,
        () => CorpusPipelineV2.tierGate(docs, tiers)),
      // kept, the rank and tier verdicts, and conductance's per-tier cut
      ("CorpusPipelineV2.buildAndAuditTierGated", 4, 0,
        () => CorpusPipelineV2.buildAndAuditTierGated(docs)))

    // The count must see only the operators' OWN releases: a checkpoint
    // no live frame references can be unpersisted by Spark's
    // ContextCleaner after any GC. A planner strategy that plans nothing
    // holds every logical plan an operator plans — and through them
    // every cut — until the count is taken.
    val held = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    object Hold extends SparkStrategy {
      def apply(p: LogicalPlan): Seq[SparkPlan] = {
        held.synchronized(held += p); Nil
      }
    }
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = prev :+ Hold
    val wrong =
      try rows.flatMap { case (name, reads, barriers, call) =>
        val before = ids
        val result = call()
        val left = fresh(before)
        val kept = left & planReads(result)
        val frames = result match {
          case df: Dataset[_] => Seq(df.toDF())
          case p: Product => p.productIterator.collect { case df: Dataset[_] => df.toDF() }.toSeq
          case _ => Nil
        }
        // every kept checkpoint is still readable
        frames.foreach(_.collect())
        sweep(before)
        held.synchronized(held.clear())
        if (kept.size == reads && left.size == reads + barriers) None
        else Some(s"$name: ${left.size} left, ${kept.size} read by the result " +
          s"(want $reads read + $barriers barriers)")
      } finally {
        spark.experimental.extraStrategies = prev
        held.synchronized(held.clear())
      }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
