package graft.fe

import org.apache.spark.sql.{Column, graftshim}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval

/** Entity-timestamp normalization re-creating the reference's tz handling
  * (feast utils.py:6-11 `make_tzaware` — tz-naive ⇒ assume UTC; tz-aware ⇒
  * convert to UTC — torture-tested by driver_test_data.py:53-75, which
  * cycles entity timestamps through tz-naive / UTC / fixed-offset /
  * US-Pacific representations of the same instants).
  *
  * The engine's canonical representation is UTC wall time under a
  * UTC-pinned session (testdata parquet reads as TIMESTAMP_NTZ). Spark's
  * typed timestamps carry no per-value zone, so only STRING columns can
  * actually arrive "tz-aware" in mixed representations:
  *
  *  - STRING → `to_timestamp` under the UTC session: naive strings are
  *    interpreted as UTC, explicit `+hh:mm` offsets and region zone ids
  *    (`America/Los_Angeles`) are honored — then rendered back to UTC wall
  *    time (NTZ) so downstream comparisons stay NTZ-vs-NTZ;
  *  - TIMESTAMP (instant) / TIMESTAMP_NTZ (UTC wall by convention) /
  *    DATE → already normalized, passed through.
  */
object Timestamps {
  def normalizeUtc(c: Column, dt: DataType): Column = dt match {
    case StringType => to_timestamp(c).cast(TimestampNTZType)
    case TimestampType | TimestampNTZType | DateType => c
    case other => throw new IllegalArgumentException(
      s"cannot normalize timestamp column of type $other")
  }

  /** `seconds` back in time as a calendar interval of microseconds only,
    * the one form in which the engine subtracts a TTL or a lookback. Spark
    * adds it as exact µs in any session time zone, like the reference's
    * `timedelta` on UTC instants. A SQL `INTERVAL '<n>' SECOND` literal is
    * a day-time interval whose whole days Spark adds in session-local
    * time, so a 24 h TTL across a DST change would span 23 or 25 hours.
    */
  def secondsBack(seconds: Long): Literal =
    Literal(new CalendarInterval(0, 0, -seconds * 1000000L))

  /** `ts`, of type `dt`, minus exactly `seconds` ([[secondsBack]]). A DATE
    * is cast to TIMESTAMP first: DATE plus a calendar interval is date
    * arithmetic, which rejects a sub-day interval under ANSI.
    */
  def minusSeconds(ts: Column, dt: DataType, seconds: Long): Column = {
    val start = if (dt == DateType) ts.cast(TimestampType) else ts
    start + graftshim.toColumn(secondsBack(seconds))
  }

  /** [[minusSeconds]] of a driver-side instant, typed as `lit` types it. */
  def literalMinusSeconds(value: Any, seconds: Long): Column = {
    val l = Literal(value)
    minusSeconds(graftshim.toColumn(l), l.dataType, seconds)
  }
}
