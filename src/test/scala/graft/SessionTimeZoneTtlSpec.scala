package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.materialize.Materialize
import graft.model._
import graft.pit.{AsOfJoin, AsOfSpec}

/** A TTL is exact seconds in any session time zone, as the reference's
  * `timedelta` on UTC instants is. The entity row is 2021-03-14 12:00 in
  * Los Angeles, the day clocks moved forward: a 24 h TTL reaches back to
  * 2021-03-13 11:00 local time, not 12:00, so a feature 23.5 h earlier is
  * still live and one 24.5 h earlier is expired. A DATE entity timestamp
  * takes the same exact-seconds TTL from its midnight.
  */
class SessionTimeZoneTtlSpec extends SparkSpec {
  import spark.implicits._

  private val entityTs = Instant.parse("2021-03-14T19:00:00Z") // 12:00 PDT
  private def hoursBefore(h: Double) =
    Timestamp.from(entityTs.minusSeconds((h * 3600).toLong))
  private val ttl = Some(24L * 3600)

  private def inLosAngeles[T](f: => T): T = {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try f finally spark.conf.set(key, saved)
  }

  private val entity = Seq((1L, "live", Timestamp.from(entityTs)), (2L, "expired", Timestamp.from(entityTs)))
    .toDF("eid", "key", "ets")
  private val feature = Seq(
    ("live", hoursBefore(23.5), 1.0),
    ("expired", hoursBefore(24.5), 2.0))
    .toDF("key", "fts", "v")
  private val spec = AsOfSpec(Seq("key"), "ets", "fts", ttlSeconds = ttl, features = Seq("v"))

  private def values(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
    df.select(col("eid"), col("v")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  test("windowed and rangeJoin keep a feature 23.5 h old under a 24 h TTL across a DST change") {
    val want = Map(1L -> Some(1.0), 2L -> None)
    inLosAngeles {
      assert(values(AsOfJoin.windowed(entity, feature, spec)) == want)
      assert(values(AsOfJoin.rangeJoin(entity, feature, spec, rowId = "eid")) == want)
    }
  }

  test("lookupLatest: PRESENT at 23.5 h, OUTSIDE_MAX_AGE at 24.5 h across a DST change") {
    val history = feature.withColumnRenamed("fts", "ts")
    val statuses = inLosAngeles {
      Materialize.lookupLatest(history, Seq("live", "expired").toDF("key"), Seq("key"), "ts", "v",
        asOf = Timestamp.from(entityTs), ttlSeconds = ttl)
        .select("key", "status").as[(String, String)].collect().toMap
    }
    assert(statuses == Map("live" -> "PRESENT", "expired" -> "OUTSIDE_MAX_AGE"))
  }

  test("a DATE entity timestamp with a TTL: windowed, rangeJoin and getHistoricalFeatures") {
    // entity rows on 2021-03-14 (midnight UTC): a 24 h TTL reaches back to
    // 2021-03-13 00:00, so a feature 23 h earlier is live, one 25 h earlier
    // expired
    val day = java.sql.Date.valueOf("2021-03-14")
    val dated = Seq((1L, "live", day), (2L, "expired", day)).toDF("eid", "key", "ets")
    val feature = Seq(
      ("live", tsOf("2021-03-13T01:00:00Z"), 1.0),
      ("expired", tsOf("2021-03-12T23:00:00Z"), 2.0))
      .toDF("key", "fts", "v")
    val want = Map(1L -> Some(1.0), 2L -> None)
    assert(values(AsOfJoin.windowed(dated, feature, spec)) == want)
    assert(values(AsOfJoin.rangeJoin(dated, feature, spec, rowId = "eid")) == want)

    // the facade also bounds the feature scan and its date partitions by
    // the entity range minus the TTL
    val dir = java.nio.file.Files.createTempDirectory("graft_date_ttl").toString
    feature.withColumn("dt", to_date(col("fts")))
      .write.partitionBy("dt").parquet(s"$dir/src.parquet")
    val view = FeatureView("f",
      Seq(Entity("key", ValueType.STRING, Some("key"))),
      Seq(Feature("v", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "fts", datePartitionColumn = Some("dt")),
      ttlSeconds = ttl)
    val store = new FeatureStore(spark, Map("f" -> view))
    assert(values(store.getHistoricalFeatures(dated, Seq("f:v"), entityTsColumn = "ets")) == want)
  }
}
