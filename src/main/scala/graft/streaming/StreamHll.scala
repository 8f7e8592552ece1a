package graft.streaming

import graft.ops.Sketch
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Per-key HLL register state: dense m = 64 array of rho maxima. */
final case class HllState(regs: Seq[Int])

/** Streaming distinct-count per key with CONSTANT state: the
  * incremental twin of the batch pinned-layout HLL
  * ([[graft.ops.Sketch.hllRegisters]]/[[graft.ops.Sketch.hllEstimate]],
  * q177).
  *
  * Where [[StreamKmv]]'s state is the bottom-k hash SET (k longs,
  * content-dependent), the HLL state is 64 byte-sized registers
  * whatever streams past, merged by elementwise MAX — the same merge
  * law that unions per-source sketches in q177's '__all__' rollup, so
  * a key's registers after any prefix of the stream are exactly the
  * batch registers of that prefix, and the emitted estimate is
  * bit-parity with the batch query (StreamHllSpec asserts both, plus
  * the run-as-static-Dataset mode).
  */
object StreamHll {

  /** (key, hashed value) → per-key estimate stream. `hashed` must be
    * TextOps.h64 of the value, computed before groupByKey so batch and
    * stream share the hash. */
  def distinctPerKey(pairs: Dataset[(String, Long)]): Dataset[(String, Double)] = {
    implicit val stEnc = Encoders.product[HllState]
    implicit val outEnc = Encoders.tuple(Encoders.STRING, Encoders.scalaDouble)

    def fn(key: String, rows: Iterator[(String, Long)],
        state: GroupState[HllState]): (String, Double) = {
      val regs = state.getOption.map(_.regs.toArray)
        .getOrElse(Array.fill(64)(0))
      rows.foreach { case (_, h) =>
        val (b, rho) = Sketch.hllBucketRho(h)
        if (rho > regs(b)) regs(b) = rho
      }
      state.update(HllState(regs.toSeq))
      (key, Sketch.estimateFromHllRegisters(regs.toSeq))
    }

    pairs.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState[HllState, (String, Double)](
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** Column-level helper: (key, h64(value)) pairs from any DataFrame —
    * the same input [[StreamKmv]] hashes, built by its helper. */
  def pairs(df: DataFrame, key: Column, value: Column): Dataset[(String, Long)] =
    StreamKmv.pairs(df, key, value)
}
