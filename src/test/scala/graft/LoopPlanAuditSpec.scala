package graft

import graft.ops.{Graph, Iterate, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Plan audits for the ITERATIVE loops (r17 verdict #5): the per-round
  * plans live behind eager checkpoints, invisible to `explain` on the
  * returned frame, so these tests capture every executed plan of a
  * small-N run through `graft.obs.Plans.capture` (the PlanTrace
  * mechanism) and pin the shapes the optimization rounds bought:
  * measured-stats loop broadcasts, the aggregate argmin replacing the
  * window top-1, and randomWalk's single-leaf trajectory. */
class LoopPlanAuditSpec extends SparkSpec {
  import spark.implicits._

  /** All executed plans (formatted) during `body`, bus drained. */
  private def capture(body: => Unit): Seq[String] =
    graft.obs.Plans.capture(spark)(body).map(_._2)

  private def sym(pairs: (String, String)*): DataFrame = {
    val fwd = pairs.toSeq.toDF("src", "dst")
    fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
  }

  private def sweep(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  test("pageRank round joins BROADCAST the measured node-sized rank vector") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val plans = capture {
      Graph.pageRank(sym(("a", "b"), ("b", "c"), ("c", "a")), iters = 2)
        .collect()
    }
    // at small N the measured checkpoint stats put the rank vector
    // under the auto-broadcast threshold: at least one per-round
    // contribution plan joins it as a BroadcastHashJoin (at 100 TB the
    // same mechanism keeps the shuffle join — nothing to pin there)
    assert(plans.exists(p => p.contains("BroadcastHashJoin") &&
      p.contains("Scan ExistingRDD")),
      s"no round plan broadcast the rank vector:\n${plans.mkString("\n---\n")}")
    sweep(before)
  }

  test("labelPropagate vote is the aggregate argmin — no WindowGroupLimit in any round") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val seeds = Seq(("a", "x"), ("d", "y")).toDF("node", "label")
    val plans = capture {
      Graph.labelPropagate(
        sym(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")),
        seeds, rounds = 2).collect()
    }
    assert(!plans.exists(_.contains("WindowGroupLimit")),
      "a label-propagation round regressed to the window top-1")
    assert(plans.exists(_.contains("min_by")),
      s"no round plan carries the min_by argmin:\n${plans.mkString("\n---\n")}")
    sweep(before)
  }

  test("louvainMove proposal pick is the aggregate argmin — no WindowGroupLimit") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val comm = Seq(("a", "a"), ("b", "b"), ("c", "c"), ("d", "d"))
      .toDF("node", "label")
    val plans = capture {
      Graph.louvainMove(
        sym(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")), comm).collect()
    }
    // the batch-acceptance window (community-sized) legitimately
    // remains; the PROPOSAL pick over the candidate frame must not —
    // min_by present, and no group-LIMIT window anywhere in the sweep
    assert(!plans.exists(_.contains("WindowGroupLimit")),
      "the louvain proposal pick regressed to the window top-1")
    assert(plans.exists(_.contains("min_by")),
      s"no sweep plan carries the min_by argmin:\n${plans.mkString("\n---\n")}")
    sweep(before)
  }

  test("randomWalk returns one checkpoint leaf and broadcasts the pick each step") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Graph.randomWalk(sym(("a", "b"), ("b", "c"), ("c", "a")),
      Seq("a", "b").toDF("node"), steps = 3)
    // trajectory: a single materialized leaf (plan truncation — every
    // downstream consumer plans over ONE Scan ExistingRDD, not an
    // 11-leaf union)
    val tp = out.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(tp.contains("Scan ExistingRDD") && !tp.contains("Union"), tp)
    // step plans: the walker-sized pick broadcasts into the indexed
    // adjacency join (r17 win — 17.45 MB/step of idxed re-shuffle
    // removed); re-run one step shape under the listener to pin it
    val plans = capture {
      Graph.randomWalk(sym(("a", "b"), ("b", "c"), ("c", "a")),
        Seq("a").toDF("node"), steps = 2).collect()
    }
    assert(plans.exists(p => p.contains("BroadcastHashJoin")),
      s"no step plan broadcast the pick frame:\n${plans.mkString("\n---\n")}")
    sweep(before)
  }
}
