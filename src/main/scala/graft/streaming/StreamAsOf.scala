package graft.streaming

import java.sql.Timestamp

import graft.ops.TimeEnc.{tsOf, usOf}
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One tagged input event: both sides of the as-of join ride one stream
  * (union the left and right feeds with `side` = "L"/"R" before calling
  * [[StreamAsOf.backward]]). */
final case class AsOfEvent(
    key: String, ts: Timestamp, side: String, id: Long, value: Double)

/** One joined output row: the left event plus the most recent right
  * event at-or-before it (null-extended when none has arrived). */
final case class AsOfOut(
    key: String, l_id: Long, l_ts: Timestamp, l_value: Double,
    r_ts: Option[Timestamp], r_value: Option[Double])

/** Last-seen right row per key — the entire join state. */
final case class LastRight(tsUs: Long, value: Double)

/** Streaming backward as-of join — the incremental twin of the
  * [[graft.plans.AsOfJoin]] plan operator (the (c)-tier custom batch
  * node): for every left event, the most recent right event with
  * right-time <= left-time on the same key.
  *
  * Spark's built-in stream-stream interval join buffers BOTH sides and
  * emits every pair inside the interval; as-of wants exactly one match
  * and needs only the LATEST right row, so custom state wins
  * structurally: one [[LastRight]] per key (two longs), independent of
  * rate or watermark, vs a watermark-sized buffer of right rows.
  *
  * Contract: inside a batch events are sorted by (time,
  * right-before-left, id), so an equal-timestamp right row is visible
  * to the left row that carries the same time, matching the batch
  * operator's `<=`, and duplicate-(key, time) right rows resolve
  * deterministically by id (the batch operator requires they not
  * exist). Across micro-batches the fold guards against stragglers
  * instead of trusting delivery order: a right row older than the one
  * already in state never overwrites it, and a left row older than the
  * held right row emits null-extended rather than matching an event
  * from its own future — late data degrades to "no match", never to a
  * wrong match. StreamAsOfSpec pins batch parity including state
  * carried across micro-batches.
  */
object StreamAsOf {


  def backward(events: Dataset[AsOfEvent]): Dataset[AsOfOut] = {
    implicit val outEnc = Encoders.product[AsOfOut]
    implicit val stEnc = Encoders.product[LastRight]
    implicit val keyEnc = Encoders.STRING

    def fn(key: String, evs: Iterator[AsOfEvent],
        state: GroupState[LastRight]): Iterator[AsOfOut] = {
      // right rows sort before left rows at the same instant so a
      // same-timestamp right row matches (the batch operator's <=)
      val sorted = evs.toSeq.sortBy(e =>
        (usOf(e.ts), if (e.side == "R") 0 else 1, e.id))
      val out = Seq.newBuilder[AsOfOut]
      var last = state.getOption
      sorted.foreach { e =>
        if (e.side == "R") {
          // a straggling right row older than the held one must not
          // roll state backwards
          if (!last.exists(_.tsUs > usOf(e.ts)))
            last = Some(LastRight(usOf(e.ts), e.value))
        } else {
          // a straggling left row older than the held right row would
          // otherwise match an event from its own future — null-extend
          val m = last.filter(_.tsUs <= usOf(e.ts))
          out += AsOfOut(key, e.id, e.ts, e.value,
            m.map(r => tsOf(r.tsUs)), m.map(_.value))
        }
      }
      last.foreach(state.update)
      out.result().iterator
    }

    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[LastRight, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }
}
