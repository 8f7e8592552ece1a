package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.unix_micros
import org.apache.spark.sql.types.TimestampType

/** Timestamp-encoding-agnostic epoch extraction.
  *
  * Parquet writers flip `isAdjustedToUTC` freely (pyarrow writes naive
  * `timestamp[us]` columns without it), and Spark then surfaces the same
  * instants as either `TIMESTAMP` or `TIMESTAMP_NTZ`
  * (`spark.sql.parquet.inferTimestampNTZ.enabled` defaults true).
  * `unix_micros` accepts only `TIMESTAMP`, so every epoch-arithmetic
  * call site must normalize first or die at analysis time on one of the
  * two encodings.
  *
  * The NTZ→TZ cast re-interprets the naive wall-clock value in the
  * session timezone; every entry point (Verify, Bench, Explain, the test
  * session) pins `spark.sql.session.timeZone=UTC`, which makes the cast
  * value-identity by construction — the naive value IS the UTC instant.
  * For a column that is already `TIMESTAMP` the cast is a no-op, so the
  * helper is safe to use unconditionally. EncodingSpec asserts both
  * encodings of one fixture produce bit-identical results through the
  * time-keyed operators.
  */
object TimeEnc {

  /** Epoch microseconds of `t`, whichever timestamp flavor it carries. */
  def usOf(t: Column): Column = unix_micros(t.cast(TimestampType))

  /** Epoch microseconds of a JVM `Timestamp` — the row-level twin of
    * the Column form, for state functions that keep time as a Long
    * (floor division, so pre-epoch instants stay exact). */
  def usOf(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** The `Timestamp` of epoch microseconds `us` — inverse of [[usOf]]. */
  def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
