package graft.fe

import org.apache.spark.sql.{Column, DataFrame, graftshim}
import org.apache.spark.sql.catalyst.expressions.{Ascending, CurrentRow, RangeFrame, SortOrder,
  SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Windowed feature engineering over keyed event streams (north-rule axis B):
  * lag/lead features, tumbling & sliding time-window aggregates,
  * range-frame rolling aggregates, and inactivity-gap sessionization.
  *
  * The reference only ever uses ROW_NUMBER (bigquery.py:87); everything here
  * is the feature-engineering layer the north rule adds on top, expressed
  * with built-in, codegen-friendly Spark window/agg functions — a single hash
  * shuffle per key column set, no UDFs.
  */
object Windows {

  private def orderedWindow(key: Seq[String], ts: String, ties: Seq[String]) =
    Window.partitionBy(key.map(col): _*).orderBy((col(ts) +: ties.map(col)).map(_.asc): _*)

  /** lag/lead of `valueCol` by `n` within each key's timeline. */
  def lagLead(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      valueCol: String,
      n: Int = 1,
      ties: Seq[String] = Nil): DataFrame = {
    val w = orderedWindow(key, ts, ties)
    df.withColumn(s"${valueCol}_lag$n", lag(col(valueCol), n).over(w))
      .withColumn(s"${valueCol}_lead$n", lead(col(valueCol), n).over(w))
  }

  /** Tumbling window: epoch-aligned buckets of `widthSeconds`. Emits
    * `win_start` as epoch seconds (bigint) — stable across engines, no
    * timestamp-encoding ambiguity. One shuffle on (key, bucket); partial
    * (map-side) aggregation applies automatically.
    */
  def tumbling(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      widthSeconds: Long,
      aggs: Seq[Column]): DataFrame = {
    val bucket = (floor(unix_timestamp(col(ts)) / widthSeconds) * widthSeconds)
      .cast("long").as("win_start")
    df.groupBy((key.map(col) :+ bucket): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Sliding window (width divisible by slide): each event belongs to
    * width/slide buckets; generated with a small constant-size explode —
    * row growth is exactly the overlap factor, shuffle stays keyed.
    */
  def sliding(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      widthSeconds: Long,
      slideSeconds: Long,
      aggs: Seq[Column]): DataFrame = {
    require(widthSeconds % slideSeconds == 0, "width must be a multiple of slide")
    val k = (widthSeconds / slideSeconds).toInt
    val winStart =
      ((floor(unix_timestamp(col(ts)) / slideSeconds) - col("__graft_k")) * slideSeconds)
        .cast("long").as("win_start")
    df.withColumn("__graft_k", explode(sequence(lit(0), lit(k - 1))))
      .groupBy((key.map(col) :+ winStart): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Rolling (range-frame) aggregate: for each event, aggregate over the
    * trailing `windowSeconds` of its own key's history (inclusive bounds).
    * The frame is `RANGE BETWEEN <windowSeconds> s PRECEDING AND CURRENT
    * ROW` over the event time itself, at MICROsecond precision (the
    * fixtures' native resolution) — ordering by whole seconds would let a
    * same-second future event leak into a point-in-time feature and stretch
    * the bound by up to ~1 s ([[sessionize]] makes the same choice).
    *
    * The order key is `ts` when it already is a TIMESTAMP, else
    * `cast(ts as timestamp)` (NTZ, string and epoch-second numeric inputs).
    * A TIMESTAMP key is the same sort order as [[lagLead]]'s, so a
    * `lagLead` → `rolling` chain plans one Sort and one Window. Sum and
    * count are one `withColumns` over one frame.
    *
    * The bound is [[Timestamps.secondsBack]], exact µs in any session time
    * zone; `WindowSpec.rangeBetween` takes numeric bounds only.
    */
  def rolling(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      windowSeconds: Long,
      valueCol: String): DataFrame = {
    val order = df.select(col(ts)).schema.head.dataType match {
      case TimestampType => col(ts)
      case _ => col(ts).cast("timestamp")
    }
    val spec = WindowSpecDefinition(
      key.map(k => graftshim.toExpression(col(k))),
      Seq(SortOrder(graftshim.toExpression(order), Ascending)),
      SpecifiedWindowFrame(RangeFrame,
        Timestamps.secondsBack(windowSeconds), CurrentRow))
    def over(f: Column): Column =
      graftshim.toColumn(WindowExpression(graftshim.toExpression(f), spec))
    df.withColumns(scala.collection.immutable.ListMap(
      s"${valueCol}_rolling_sum" -> over(sum(col(valueCol))),
      s"${valueCol}_rolling_cnt" -> over(count(lit(1)))))
  }

  /** Sessionization by inactivity gap: a new session starts when the gap to
    * the previous event of the same key exceeds `gapSeconds` (strict >).
    * Adds `session_id` (1-based per key, in time order). Two window passes,
    * one shuffle (same partitioning reused by Catalyst).
    */
  def sessionize(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      gapSeconds: Long,
      ties: Seq[String] = Nil): DataFrame = {
    val w = orderedWindow(key, ts, ties)
    val prev = lag(col(ts), 1).over(w)
    // microsecond-precise gap: timestamp→double is epoch seconds + fraction
    // (NTZ inputs go via LTZ under the UTC session timezone first)
    val brk = when(
      prev.isNull ||
        (col(ts).cast("timestamp").cast("double") -
          prev.cast("timestamp").cast("double")) > gapSeconds.toDouble,
      1).otherwise(0)
    df.withColumn("__graft_brk", brk)
      .withColumn(
        "session_id",
        sum(col("__graft_brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__graft_brk")
  }

  /** Per-session summary features: start/end epoch, event count, value sum. */
  def sessionFeatures(
      df: DataFrame,
      key: Seq[String],
      ts: String,
      gapSeconds: Long,
      valueCol: String,
      ties: Seq[String] = Nil): DataFrame = {
    sessionize(df, key, ts, gapSeconds, ties)
      .groupBy((key.map(col) :+ col("session_id")): _*)
      .agg(
        unix_timestamp(min(col(ts))).cast("long").as("session_start"),
        unix_timestamp(max(col(ts))).cast("long").as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
  }
}
