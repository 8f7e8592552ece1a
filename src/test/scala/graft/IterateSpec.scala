package graft

import graft.ops.{Graph, Iterate, TextOps}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._

/** Pins the checkpoint-release discipline of [[graft.ops.Iterate]]:
  * iterative operators keep a CONSTANT number of persisted RDDs
  * regardless of how many rounds they run (each round's checkpoint
  * releases the superseded round — the r9 verdict's leak), and a
  * released round's blocks really leave `getPersistentRDDs`. */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  private def sweep(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  test("RollingCheckpoint keeps exactly one live round and the result stays readable") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val roll = new Iterate.RollingCheckpoint
    var df = Seq(1L, 2L, 3L).toDF("x")
    val base = persisted
    for (_ <- 1 to 5)
      df = roll.next(df.withColumn("x", $"x" + 1L))
    // 5 rounds later: ONE live checkpoint, not five
    assert(persisted == base + 1)
    // the kept (final) round is the one still readable
    assert(df.agg(sum($"x")).head().getLong(0) == 21L)
    roll.close()
    assert(persisted == base)
    sweep(before)
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

  test("randomWalk releases its per-step frames (keeps static cuts + trajectory)") {
    // r17 ADVICE: the walk kept steps+1 walker-sized checkpoints
    // persisted for the session with no in-call release. Now the
    // assembled trajectory is cut once and the step leaves released:
    // whatever the step count, the walk leaves exactly its 3 static
    // cuts (edges, idxed adjacency, degree) + 1 trajectory leaf.
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
}
