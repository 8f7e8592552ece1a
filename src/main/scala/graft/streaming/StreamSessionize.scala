package graft.streaming

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.sql.Timestamp

import graft.ops.TimeEnc.{tsOf, usOf}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One input event for the streaming sessionizer. */
final case class SessionEvent(
    user_id: Long, event_id: Long, ts: Timestamp, value: Double)

/** One closed session — identical shape and values to the batch
  * [[graft.ops.Sessionize]] output for in-order input. `session_value`
  * is None (NULL downstream) when no event contributed a summable value,
  * matching the batch decimal sum over an all-NULL group. */
final case class SessionOut(
    user_id: Long, session_id: Long, n_events: Long,
    t0: Timestamp, t1: Timestamp, session_value: Option[Double])

/** The open session carried in state: micro-second bounds, event count,
  * the running value sum in micro-units (scale-6 fixed point) so the
  * emitted double is bit-identical to the batch path's decimal-exact sum,
  * and the count of events that actually contributed to it. */
final case class OpenSession(
    sessionId: Long, startUs: Long, lastUs: Long, n: Long, sumMicros: Long,
    nFinite: Long)

/** Streaming gap-based sessionization: `flatMapGroupsWithState` keyed on
  * user, one [[OpenSession]] per user in state. A session closes (and is
  * appended downstream) when a later event arrives past the gap, or when
  * the event-time watermark passes lastTs + gap (the timeout), so every
  * session is emitted exactly once and state never grows beyond one row
  * per active user — the custom-state operator of SURVEY §2.8/§2.9 the
  * reference (a batch tool) has no analog for.
  *
  * In-order input (the watermark contract) produces sessions identical
  * to the batch [[graft.ops.Sessionize]] — StreamSessionizeSpec asserts
  * bit-parity including the decimal-exact value sum, which is carried in
  * state as scale-6 fixed point (the same per-element HALF_UP rounding
  * as Exact.dsum's double→DECIMAL(18,6) cast).
  */
object StreamSessionize {


  /** Largest magnitude representable by DECIMAL(18,6). */
  private val maxAbs6 = new JBigDecimal("999999999999.999999")

  /** Scale-6 micro-units with HALF_UP — mirrors Spark's double→decimal
    * cast (which goes through BigDecimal.valueOf, the shortest decimal
    * representation, before setScale). The batch path's
    * `cast(x as DECIMAL(18,6))` yields NULL for NaN/Infinity and for
    * values past the precision, and dsum skips NULLs — so those values
    * contribute None here (and are excluded from the finite count),
    * instead of throwing and killing the streaming query on one bad
    * event. */
  private def micros6(x: Double): Option[Long] =
    if (!java.lang.Double.isFinite(x)) None
    else {
      val d = JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)
      if (d.abs.compareTo(maxAbs6) > 0) None
      else Some(d.unscaledValue().longValue())
    }

  private def toDouble(sumMicros: Long): Double =
    JBigDecimal.valueOf(sumMicros, 6).doubleValue()

  private def close(user: Long, s: OpenSession): SessionOut =
    SessionOut(user, s.sessionId, s.n, tsOf(s.startUs), tsOf(s.lastUs),
      // a session where every value was NULL-equivalent sums to NULL in
      // the batch decimal path, not 0.0 — mirror that exactly
      if (s.nFinite == 0) None else Some(toDouble(s.sumMicros)))

  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    val gapUs = gapSeconds * 1000000L
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val stEnc = Encoders.product[OpenSession]
    implicit val keyEnc = Encoders.scalaLong

    def fn(user: Long, evs: Iterator[SessionEvent],
        state: GroupState[OpenSession]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(user, _)).toSeq
        state.remove()
        return out.iterator
      }
      // iterator order within a group is not guaranteed — sort this
      // micro-batch's events (per-user per-batch volume is small)
      val sorted = evs.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
      val closed = Seq.newBuilder[SessionOut]
      var cur = state.getOption
      sorted.foreach { e =>
        val us = usOf(e.ts)
        val m = micros6(e.value)
        cur match {
          case None =>
            cur = Some(OpenSession(1L, us, us, 1L, m.getOrElse(0L), m.size))
          case Some(s) if us - s.lastUs > gapUs =>
            closed += close(user, s)
            cur = Some(OpenSession(s.sessionId + 1, us, us, 1L,
              m.getOrElse(0L), m.size))
          case Some(s) =>
            cur = Some(s.copy(lastUs = math.max(s.lastUs, us), n = s.n + 1,
              sumMicros = s.sumMicros + m.getOrElse(0L),
              nFinite = s.nFinite + m.size))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // close via timeout once the watermark passes lastTs + gap
        state.setTimeoutTimestamp(math.floorDiv(s.lastUs, 1000L) + gapSeconds * 1000L)
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
