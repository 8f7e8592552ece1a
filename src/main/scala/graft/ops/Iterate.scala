package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint lifecycle discipline for iterative operators.
  *
  * Every driver-side loop in the engine (PageRank, k-core peel,
  * star-contraction components, Lloyd training, power iteration, the
  * greedy selectors) cuts lineage with `localCheckpoint(true)` each
  * round — without it an iterative plan re-derives round k−1 from
  * scratch and O(k) work turns O(k²) (the q185/q174 lesson). But a
  * bare localCheckpoint LEAKS: the superseded round's blocks stay
  * persisted on executors for the life of the session
  * (`Dataset.unpersist` does NOT release them — checkpoints are not in
  * the CacheManager). At bench scale GC pressure absorbs it; at 100 TB
  * × 50 rounds, leaked blocks are executor-storage pressure, eviction
  * churn, and the storage-UI lying about the working set.
  *
  * [[RollingCheckpoint]] is the one-shape fix: each round's frame
  * checkpoints through a slot that releases the PREVIOUS round's
  * blocks once the new round has materialized — never before, so no
  * in-flight read can lose its blocks, and never the final round,
  * which the caller still reads. Operators keep exactly their static
  * frames + one live round persisted (IterateSpec pins the bound via
  * `sparkContext.getPersistentRDDs`).
  */
object Iterate {

  /** Silence Spark's per-release "was locally checkpointed … cannot be
    * recomputed after unpersisting" WARN: here it is the DESIGN (the
    * slot releases a round only once nothing can read it again), and
    * at 50 rounds × 220 queries the line would drown real warnings.
    * Runner mains call this once; library code never mutates logging. */
  def quietReleaseWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

  /** The checkpointed RDD behind a frame that IS a bare localCheckpoint
    * (its logical plan is the `LogicalRDD` leaf itself). None for any
    * composite plan — callers must never release a frame that merely
    * CONTAINS a checkpoint some other consumer still reads. */
  def checkpointedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _              => None
    }

  /** Release the executor blocks behind a bare localCheckpoint frame.
    * Async (non-blocking) — the slot pattern guarantees nothing reads
    * them again, so there is no reason to wait on block removal. */
  def release(df: DataFrame): Unit =
    checkpointedRdd(df).foreach(_.unpersist(blocking = false))

  /** The loop-safe lineage cut: eager localCheckpoint PLUS
    * MEASURED-size statistics (`GraftSqlBridge.measureCheckpointStats`,
    * r17). A bare `localCheckpoint(true)` copies the source plan's
    * estimated Statistics onto the returned LogicalRDD, and Catalyst's
    * size-only estimator multiplies child sizes through joins — in a
    * loop that feeds round k−1's checkpoint into several joins, the
    * estimate's digit count doubles per round and the DRIVER goes
    * quadratic-then-worse in BigInteger arithmetic (measured: 2.5 s
    * sweeps became 115 s by sweep 13 on a constant 1,585-node frame).
    * Every driver-side loop must cut with THIS, not with
    * localCheckpoint directly. Since r17 the stamped size is the
    * checkpoint's TRUE storage footprint (the blocks are persisted
    * when this runs), not the compounded estimate: a node-sized
    * rank/label vector now auto-broadcasts into its per-round join
    * under Spark's own threshold — at sf0.1 that removes the
    * two-sided shuffle from every round, and at 100 TB a corpus-sized
    * vector exceeds the threshold and keeps the honest shuffle join.
    * One-shot barriers outside loops may keep their stats — a single
    * hop cannot compound. */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.measureCheckpointStats(
      df.localCheckpoint(true))

  /** One rolling checkpoint slot: `next(df)` eagerly checkpoints `df`
    * (via [[cut]] — see its doc for why loops must strip checkpoint
    * statistics) and releases the slot's previous round. The LAST
    * round's blocks are deliberately kept (the caller's result reads
    * them); a caller that materializes the result elsewhere may
    * `close()` the slot. */
  final class RollingCheckpoint {
    private var prev: Option[RDD[_]] = None
    def next(df: DataFrame): DataFrame = {
      val out = cut(df)
      val rdd = checkpointedRdd(out)
      prev.foreach(_.unpersist(blocking = false))
      prev = rdd
      out
    }
    def close(): Unit = { prev.foreach(_.unpersist(blocking = false)); prev = None }
  }
}
