package graft.fe

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Windowed feature engineering vs naive driver-side oracles: lag/lead,
  * tumbling/sliding aggregates, range-frame rolling, and inactivity-gap
  * sessionization (north-rule axis B; the reference itself only ever uses
  * ROW_NUMBER — bigquery.py:87).
  */
case class Ev(id: Long, key: String, ts: Timestamp, v: Double)

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def t(sec: Long): Timestamp = new Timestamp(1618185600000L + sec * 1000L)

  private def events(seed: Long, n: Int, keys: Int): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      Ev(i.toLong, s"k${rnd.nextInt(keys)}", t(rnd.nextInt(36000).toLong), rnd.nextDouble()))
  }

  test("lagLead matches per-key sorted neighbors") {
    val evs = events(1L, 200, 5)
    val out = Windows.lagLead(evs.toDF(), Seq("key"), "ts", "v", n = 1, ties = Seq("id"))
      .select("id", "v_lag1", "v_lead1").collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val expected = evs.groupBy(_.key).flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e.ts.getTime, e.id))
      sorted.zipWithIndex.map { case (e, i) =>
        e.id -> (
          if (i == 0) None else Some(sorted(i - 1).v),
          if (i == sorted.size - 1) None else Some(sorted(i + 1).v))
      }
    }
    assert(out == expected)
  }

  test("tumbling matches per-(key, bucket) naive aggregation") {
    val evs = events(2L, 300, 4)
    val width = 600L
    val out = Windows.tumbling(evs.toDF(), Seq("key"), "ts", width,
      Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expected = evs.groupBy(e => (e.key, e.ts.getTime / 1000 / width * width))
      .map { case (k, g) => k -> (g.size.toLong, g.map(_.v).sum) }
    assert(out.keySet == expected.keySet)
    for ((k, (n, s)) <- expected) {
      assert(out(k)._1 == n, s"$k count")
      assert(math.abs(out(k)._2 - s) < 1e-9, s"$k sum")
    }
  }

  test("sliding: every event lands in exactly width/slide windows; sums match") {
    val evs = events(3L, 250, 3)
    val width = 1200L
    val slide = 300L
    val out = Windows.sliding(evs.toDF(), Seq("key"), "ts", width, slide,
      Seq(count(lit(1)).as("n"), sum(col("v")).as("s")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val k = (width / slide).toInt
    val expected = evs.flatMap { e =>
      val top = e.ts.getTime / 1000 / slide
      (0 until k).map(j => ((e.key, (top - j) * slide), e.v))
    }.groupBy(_._1).map { case (kk, vs) => kk -> (vs.size.toLong, vs.map(_._2).sum) }
    assert(out.keySet == expected.keySet)
    for ((kk, (n, s)) <- expected) {
      assert(out(kk)._1 == n)
      assert(math.abs(out(kk)._2 - s) < 1e-9)
    }
    // membership count invariant
    assert(out.values.map(_._1).sum == evs.size.toLong * k)
  }

  test("rolling plans one Sort and one Window; lagLead then rolling plans one of each") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    def shape(d: org.apache.spark.sql.DataFrame): (Int, Int) = {
      d.collect()
      val plan = d.queryExecution.executedPlan
      (graft.PlanShape.collect(plan) { case s: SortExec => s }.size,
        graft.PlanShape.collect(plan) { case w: WindowExec => w }.size)
    }
    val df = events(4L, 200, 5).toDF()
    val rolled = Windows.rolling(df, Seq("key"), "ts", 600L, "v")
    assert(rolled.columns.toSeq == df.columns.toSeq ++ Seq("v_rolling_sum", "v_rolling_cnt"))
    assert(shape(rolled) == (1, 1))
    // timedJob's FE: lagLead and rolling both order by the raw ts, so
    // CollapseWindow merges the two windows over one sort
    assert(shape(Windows.rolling(
      Windows.lagLead(df, Seq("key"), "ts", "v"), Seq("key"), "ts", 600L, "v")) == (1, 1))
  }

  test("rolling range-frame equals trailing-window linear scan (inclusive bounds)") {
    // sub-second jitter on top of the second grid: the frame must compare
    // at full precision — second-truncated ordering would leak same-second
    // FUTURE events into the trailing window and stretch the bound ~1s
    val rnd = new scala.util.Random(44)
    val evs = events(4L, 200, 4).map(e =>
      e.copy(ts = new Timestamp(e.ts.getTime + rnd.nextInt(1000))))
    val win = 900L
    val out = Windows.rolling(evs.toDF(), Seq("key"), "ts", win, "v")
      .select("id", "v_rolling_sum", "v_rolling_cnt").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val expected = evs.map { e =>
      val g = evs.filter(o => o.key == e.key &&
        o.ts.getTime >= e.ts.getTime - win * 1000L &&
        o.ts.getTime <= e.ts.getTime)
      e.id -> (g.map(_.v).sum, g.size.toLong)
    }.toMap
    for ((id, (s, n)) <- expected) {
      assert(out(id)._2 == n, s"id=$id count")
      assert(math.abs(out(id)._1 - s) < 1e-9, s"id=$id sum")
    }
  }

  test("sessionize: strict-gap splits, 1-based ids, naive oracle agreement") {
    val evs = events(5L, 300, 5)
    val gap = 700L
    val out = Windows.sessionize(evs.toDF(), Seq("key"), "ts", gap, ties = Seq("id"))
      .select("id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = evs.groupBy(_.key).flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e.ts.getTime, e.id))
      var sid = 0L
      var prev = Long.MinValue / 2
      sorted.map { e =>
        val sec = e.ts.getTime / 1000
        if (sec - prev > gap) sid += 1
        prev = sec
        e.id -> sid
      }
    }
    assert(out == expected)
  }

  test("sessionize boundary: gap exactly equal to threshold does NOT split") {
    val evs = Seq(
      Ev(1, "a", t(0), 1.0), Ev(2, "a", t(700), 1.0), // exactly gap → same session
      Ev(3, "a", t(1401), 1.0)) // 701 > gap → new session
    val out = Windows.sessionize(evs.toDF(), Seq("key"), "ts", 700L, ties = Seq("id"))
      .select("id", "session_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("sessionFeatures rolls sessions up to summary rows") {
    val evs = Seq(
      Ev(1, "a", t(0), 1.0), Ev(2, "a", t(100), 2.0),
      Ev(3, "a", t(5000), 4.0), Ev(4, "b", t(50), 8.0))
    val out = Windows.sessionFeatures(evs.toDF(), Seq("key"), "ts", 1800L, "v", ties = Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out == Map(
      ("a", 1L) -> (1618185600L, 1618185700L, 2L, 3.0),
      ("a", 2L) -> (1618190600L, 1618190600L, 1L, 4.0),
      ("b", 1L) -> (1618185650L, 1618185650L, 1L, 8.0)))
  }
}
