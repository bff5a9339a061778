package graft.fe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.{PlanShape, SparkSpec}

/** ScalaCheck property suite for [[Windows.rolling]]'s interval frame
  * against a linear-scan oracle: per row, the sum of the non-null values and
  * the count of the rows of its key whose event time lies in
  * [ts - w, ts] (both bounds inclusive, µs precision).
  *
  * Generated streams hold one dense hot key, µs ties, rows exactly `w` and
  * `w` ± 1 µs apart, null event times, null values and frames whose values
  * are all null (sum NULL, count still counts the rows). A null event time
  * frames exactly the rows of its key whose event time is null. Each stream
  * runs with its event time as TIMESTAMP, TIMESTAMP_NTZ, epoch-second
  * bigint and string.
  */
class RollingPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 1618185600L * 1000000L // 2021-04-12T00:00Z in µs

  /** (id, key, µs offset or null, value or null); `w` in seconds. */
  private type Ev = (Long, String, Option[Long], Option[Long])

  private def genStream(wholeSeconds: Boolean): Gen[(List[Ev], Long)] = for {
    w <- Gen.choose(1L, 5L)
    n <- Gen.choose(1, 80)
    nKeys <- Gen.choose(1, 4)
    rows <- Gen.listOfN(n, for {
      // key 0 is dense: about 70% of the rows
      k <- Gen.frequency(7 -> Gen.const(0), 3 -> Gen.choose(0, nKeys - 1))
      // a quarter-window grid makes rows exactly w apart; ±1 µs jitter
      // lands just inside or just outside the bound; few slots give ties
      slot <- Gen.choose(0, 12)
      jitter <- if (wholeSeconds) Gen.const(0L) else Gen.oneOf(-1L, 0L, 0L, 1L)
      tsNull <- Gen.frequency(1 -> true, 12 -> false)
      v <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(-50L, 50L).map(Some(_)))
    } yield (k, slot, jitter, tsNull, v))
  } yield (
    rows.zipWithIndex.map { case ((k, slot, jitter, tsNull, v), i) =>
      val us = slot * w * 250000L + jitter
      // whole seconds: snap to the second the grid point falls in
      val snapped = if (wholeSeconds) us / 1000000L * 1000000L else us
      (i.toLong, s"k$k", if (tsNull) None else Some(snapped), v)
    },
    w)

  private def oracle(evs: List[Ev], w: Long): Map[Long, (Option[Long], Long)] =
    evs.map { case (id, key, ts, _) =>
      val frame = evs.filter { case (_, k, t, _) =>
        k == key && ((ts, t) match {
          case (Some(cur), Some(o)) => o >= cur - w * 1000000L && o <= cur
          case (None, None) => true
          case _ => false
        })
      }
      val vs = frame.flatMap(_._4)
      id -> ((if (vs.isEmpty) None else Some(vs.sum)), frame.size.toLong)
    }.toMap

  /** The stream with its event time `ts` in each input type. */
  private def asTypes(evs: List[Ev]): Seq[(String, DataFrame)] = {
    val df = evs.toDF("id", "key", "us", "v")
    val ltz = timestamp_micros(col("us") + Base)
    Seq(
      "timestamp" -> df.withColumn("ts", ltz),
      "timestamp_ntz" -> df.withColumn("ts", ltz.cast("timestamp_ntz")),
      "string" -> df.withColumn("ts", date_format(ltz, "yyyy-MM-dd HH:mm:ss.SSSSSS")),
      "epoch-second bigint" -> df.withColumn("ts", ((col("us") + Base) / 1000000L).cast("long")))
  }

  private def rolled(df: DataFrame): Map[Long, (Option[Long], Long)] =
    df.select("id", "v_rolling_sum", "v_rolling_cnt").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2))).toMap

  private def check(prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withMaxSize(80), prop)
    assert(result.passed, s"property falsified: ${result.status}")
  }

  test("rolling equals the linear scan for every event-time type (ties, boundary, nulls)") {
    check(Prop.forAllNoShrink(genStream(wholeSeconds = false)) { case (evs, w) =>
      val want = oracle(evs, w)
      // epoch seconds carry no µs: that type is checked on whole seconds below
      asTypes(evs).filterNot(_._1 == "epoch-second bigint").forall { case (tpe, df) =>
        val got = rolled(Windows.rolling(df, Seq("key"), "ts", w, "v"))
        assert(got == want, s"$tpe, w = $w s")
        true
      }
    })
    check(Prop.forAllNoShrink(genStream(wholeSeconds = true)) { case (evs, w) =>
      val want = oracle(evs, w)
      asTypes(evs).forall { case (tpe, df) =>
        val got = rolled(Windows.rolling(df, Seq("key"), "ts", w, "v"))
        assert(got == want, s"$tpe (whole seconds), w = $w s")
        true
      }
    })
  }

  test("lagLead(ties) then rolling: one Sort, rolling still equals the linear scan") {
    check(Prop.forAllNoShrink(genStream(wholeSeconds = false)) { case (evs, w) =>
      val df = asTypes(evs).head._2
      val out = Windows.rolling(
        Windows.lagLead(df, Seq("key"), "ts", "v", ties = Seq("id")), Seq("key"), "ts", w, "v")
      val got = rolled(out)
      val sorts = PlanShape.collect(out.queryExecution.executedPlan) { case s: SortExec => s }
      assert(got == oracle(evs, w), s"w = $w s")
      assert(sorts.size == 1, s"${sorts.size} sorts")
      true
    })
  }
}
