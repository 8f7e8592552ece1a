package graft.streaming

import graft.ops.TextOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One weighted summary point of a streaming rank sketch: `w` is the
  * cumulative-rank mass the point carries (1 for a raw arrival). */
final case class RqPoint(shard: Int, x: Long, w: Long)

/** Per-key state: the buffered/compressed points, the EXACT running
  * count, and the rank slack accumulated by past compressions. */
final case class RqState(pts: Seq[RqPoint], n: Long, slack: Long)

/** Streaming rank-error quantiles per key: the incremental twin of the
  * batch rank sketch (graft.ops.Sketch.rankSketch/rankQuantiles).
  *
  * State per key is a buffer of weighted points over the SAME fixed
  * logical shards as the batch sketch (h64(id) mod shards, computed
  * before groupByKey so batch and stream shard identically). Arrivals
  * append with weight 1; when the buffer exceeds `maxState`, each
  * shard compresses to k equi-depth weighted points — the batch
  * selection rule generalized to weighted inputs (targets ⌈i·W/k⌉
  * over cumulative weight; for unit weights this IS the batch kept-
  * rank set, value for value and delta for delta). Each per-shard
  * compression adds at most ⌈W_s/k⌉ − 1 rank slack (the uncovered
  * mass between consecutive kept targets is < ⌈W/k⌉ even when one
  * heavy point spans several targets, because that point is kept once
  * and charged its full weight), tracked EXACTLY in state and emitted
  * beside every estimate — the bound compounds additively across
  * compressions, the standard mergeable-summary accounting.
  *
  * Emission (Update mode, one row per (key, q) per micro-batch)
  * applies the same compression to a COPY of the buffer and reads the
  * estimates off it, so while the stream's total stays under
  * `maxState` the emitted (t_rank, est, err_bound) are bit-identical
  * to the batch rankSketch → rankQuantiles of the prefix
  * (StreamRankQuantilesSpec pins it), and after forced compressions
  * the emitted bound is still sound against exact ranks (pinned too).
  * The same code path runs on a static Dataset — batch and stream
  * share one logical operator, like every twin in this package. */
object StreamRankQuantiles extends Serializable {

  /** Per-shard equi-depth compression to ≤ k weighted points. Returns
    * (kept points, added rank slack = Σ_{shards with >k points}
    * (⌈W_s/k⌉ − 1) — shards already at ≤ k points pass through with
    * zero new slack, exactly the batch bound's zero term for m ≤ k). */
  private[streaming] def compress(pts: Seq[RqPoint], k: Int)
      : (Seq[RqPoint], Long) = {
    var slack = 0L
    val kept = pts.groupBy(_.shard).toSeq.sortBy(_._1)
      .flatMap { case (sh, ps) =>
        val sorted = ps.sortBy(_.x)
        if (sorted.size <= k) sorted
        else {
          val total = sorted.iterator.map(_.w).sum
          slack += (total + k - 1) / k - 1
          val cums = sorted.scanLeft(0L)(_ + _.w).tail
          val out = Seq.newBuilder[RqPoint]
          var prevCum = 0L
          var j = 0
          for (i <- 1 to k) {
            val t = math.max(1L, (i * total + k - 1) / k)
            while (j < sorted.size && cums(j) < t) j += 1
            if (j < sorted.size && cums(j) > prevCum) {
              out += RqPoint(sh, sorted(j).x, cums(j) - prevCum)
              prevCum = cums(j)
            }
          }
          out.result()
        }
      }
    (kept, slack)
  }

  /** Quantile estimates off a point set: smallest x whose cumulative
    * weight (ascending x, ties collapse by accumulation) reaches
    * t = max(1, ⌈q·n⌉) — the batch rankQuantiles rule. */
  private[streaming] def estimates(pts: Seq[RqPoint], n: Long,
      qs: Seq[Double]): Seq[(Double, Long, Long)] = {
    val sorted = pts.sortBy(_.x)
    val cums = sorted.scanLeft(0L)(_ + _.w).tail
    qs.map { q =>
      val t = math.max(1L, math.ceil(q * n.toDouble).toLong)
      val idx = cums.indexWhere(_ >= t)
      (q, t, sorted(if (idx < 0) sorted.size - 1 else idx).x)
    }
  }

  /** (key, shard, value) → per-(key, q) estimate stream:
    * (key, q, t_rank, est, err_bound) — the unit-weight call of
    * [[quantilesPerKeyWeighted]] (every arrival carries mass 1). */
  def quantilesPerKey(rows: Dataset[(String, Int, Long)], k: Int,
      maxState: Int, qs: Seq[Double])
      : Dataset[(String, Double, Long, Long, Long)] =
    quantilesPerKeyWeighted(
      rows.map(r => (r._1, r._2, r._3, 1L))(Encoders.tuple(Encoders.STRING,
        Encoders.scalaInt, Encoders.scalaLong, Encoders.scalaLong)),
      k, maxState, qs)

  /** WEIGHTED arrivals: (key, shard, value, weight) → per-(key, q)
    * estimates — the streaming twin of
    * [[graft.ops.Sketch.rankSketchWeighted]] (r16 verdict #3 closed
    * the batch half; this closes the loop so batch and stream are one
    * logical operator in BOTH weight modes). Arrivals append with
    * their own mass, `n` accumulates total mass EXACTLY, and the
    * compression/estimation machinery was always weighted internally,
    * so [[quantilesPerKey]] is this operator over unit arrivals.
    * While the buffer has never force-compressed, the emitted
    * (t_rank, est) are bit-identical to the batch
    * rankSketchWeighted → rankQuantiles of the prefix with ONE
    * stated divergence: a shard holding ≤ k distinct points emits
    * exact estimates (the copy-compression keeps everything), where
    * the batch sketch may drop a light row whose mass interval
    * crosses no target — the stream is never less accurate, and both
    * stay inside the same emitted bound (pinned in
    * StreamRankQuantilesSpec). Weights must be ≥ 1, as in batch. */
  def quantilesPerKeyWeighted(rows: Dataset[(String, Int, Long, Long)],
      k: Int, maxState: Int, qs: Seq[Double])
      : Dataset[(String, Double, Long, Long, Long)] = {
    implicit val stEnc = Encoders.product[RqState]
    implicit val outEnc = Encoders.tuple(Encoders.STRING,
      Encoders.scalaDouble, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)

    def fn(key: String, rows: Iterator[(String, Int, Long, Long)],
        state: GroupState[RqState])
        : Iterator[(String, Double, Long, Long, Long)] = {
      val prev = state.getOption.getOrElse(RqState(Nil, 0L, 0L))
      val fresh = rows.map(r => RqPoint(r._2, r._3, r._4)).toSeq
      val n = prev.n + fresh.iterator.map(_.w).sum
      var pts = prev.pts ++ fresh
      var slack = prev.slack
      if (pts.size > maxState) {
        val (c, s) = compress(pts, k); pts = c; slack += s
      }
      state.update(RqState(pts, n, slack))
      // estimate off a compressed COPY: the buffer keeps its raw
      // precision for future batches; the emitted rows pay exactly the
      // batch sketch's resolution (and so match it bit for bit while
      // no mid-stream compression has fired)
      val (cpts, emitSlack) = compress(pts, k)
      estimates(cpts, n, qs).iterator
        .map { case (q, t, est) => (key, q, t, est, slack + emitSlack) }
    }

    rows.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[RqState, (String, Double, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(fn)
  }

  /** Column-level helper: (key, h64(id) mod shards, value) triples from
    * any DataFrame — the identical shard/hash contract as the batch
    * [[graft.ops.Sketch.rankSketch]]. */
  def keyed(df: DataFrame, key: Column, value: Column, id: Column,
      shards: Int): Dataset[(String, Int, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("string"),
      (TextOps.h64(id.cast("string")) % shards).cast("int"),
      value.cast("long")).as[(String, Int, Long)]
  }

  /** [[keyed]] with a weight column — the
    * [[quantilesPerKeyWeighted]] input contract, sharded identically
    * to the batch weighted sketch. */
  def keyedWeighted(df: DataFrame, key: Column, value: Column,
      weight: Column, id: Column, shards: Int)
      : Dataset[(String, Int, Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(key.cast("string"),
      (TextOps.h64(id.cast("string")) % shards).cast("int"),
      value.cast("long"), weight.cast("long"))
      .as[(String, Int, Long, Long)]
  }
}
