package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable

/** Checkpoint lifecycle discipline for iterative operators.
  *
  * Every driver-side loop in the engine (PageRank, k-core peel,
  * star-contraction components, Lloyd training, power iteration, the
  * greedy selectors) cuts lineage with [[cut]] each round — without it
  * an iterative plan re-derives round k−1 from scratch and O(k) work
  * turns O(k²) (the q185/q174 lesson). But a checkpoint LEAKS: its
  * blocks stay persisted on executors for the life of the session
  * (`Dataset.unpersist` does NOT release them — checkpoints are not in
  * the CacheManager). At bench scale GC pressure absorbs it; at 100 TB
  * × 50 rounds, leaked blocks are executor-storage pressure, eviction
  * churn, and the storage-UI lying about the working set.
  *
  * [[scope]] is the one owner of that lifetime: every public operator
  * that cuts runs its body in a scope, which on return releases every
  * cut the result cannot read, and [[advance]] keeps a loop at one
  * live round. IterateSpec pins, per operator, that only the
  * checkpoints its result reads stay in `getPersistentRDDs`.
  */
object Iterate {

  /** Silence Spark's per-release "was locally checkpointed … cannot be
    * recomputed after unpersisting" WARN: here it is the DESIGN (a
    * round is released only once nothing can read it again), and at
    * 50 rounds × 220 queries the line would drown real warnings.
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
    * Async (non-blocking) — a caller releases a round only once nothing
    * reads it again, so there is no reason to wait on block removal. */
  def release(df: DataFrame): Unit =
    checkpointedRdd(df).foreach(_.unpersist(blocking = false))

  /** This thread's open scopes, innermost first, each with the cuts
    * made while it was innermost (not inheritable: a cut on another
    * thread belongs to no scope here). */
  private val scopes = ThreadLocal.withInitial[List[mutable.Set[RDD[_]]]](() => Nil)

  /** Run `body` owning every checkpoint [[cut]] makes in it. On return,
    * the cuts the result can read — the `LogicalRDD` leaves of each
    * DataFrame in it (the value, a collection's elements, or a tuple's
    * or case class's fields) and their RDD dependency closure, which
    * stops at a checkpoint and covers a `createDataFrame(cut.rdd…)`
    * frame — pass to the enclosing scope (at the outermost one they
    * stay persisted for the caller); every other cut is released,
    * non-blocking. If `body` throws, all of its cuts are released. The
    * result is never re-cut: that would cost one more Spark job per
    * call. */
  def scope[T](body: => T): T = {
    val own = mutable.Set.empty[RDD[_]]
    val outer = scopes.get
    scopes.set(own :: outer)
    val result =
      try body
      catch { case t: Throwable => own.foreach(_.unpersist(blocking = false)); throw t }
      finally scopes.set(outer)
    val reads = mutable.Set.empty[RDD[_]]
    def walk(rdd: RDD[_]): Unit =
      if (reads.add(rdd)) rdd.dependencies.foreach(d => walk(d.rdd))
    def visit(v: Any): Unit = v match {
      case ds: org.apache.spark.sql.Dataset[_] => ds.queryExecution.logical
        .collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.foreach(walk)
      // before Product: a List is one too, and visiting it cell by cell
      // would recurse once per element (Bpe's merge list)
      case it: Iterable[_] => it.foreach(visit)
      case p: Product      => p.productIterator.foreach(visit)
      case _               => ()
    }
    visit(result)
    val (kept, dead) = own.partition(reads)
    dead.foreach(_.unpersist(blocking = false))
    outer.headOption.foreach(_ ++= kept)
    result
  }

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
    * hop cannot compound. The checkpoint belongs to the innermost
    * open [[scope]], if any. */
  def cut(df: DataFrame): DataFrame = {
    val out = org.apache.spark.sql.GraftSqlBridge.measureCheckpointStats(
      df.localCheckpoint(true))
    scopes.get.headOption.foreach(_ ++= checkpointedRdd(out))
    out
  }

  /** One loop round, `x = Iterate.advance(x, step(x))`: [[cut]] `next`,
    * then release `prev` — never before, so no in-flight read loses
    * its blocks — but only if the innermost scope made it, so a
    * caller-supplied checkpoint (or a projection, or `null` before the
    * first round) is never freed. */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val out = cut(next)
    for {
      own <- scopes.get.headOption
      rdd <- Option(prev).flatMap(checkpointedRdd)
      if own.remove(rdd)
    } rdd.unpersist(blocking = false)
    out
  }
}
