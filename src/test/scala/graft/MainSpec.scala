package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model._
import graft.table.SnapshotTable

/** End-to-end CLI flow, mirroring the reference's local e2e test
  * (feast tests/e2e/test_e2e_local.py:14-22): init → apply → materialize →
  * retrieve, all through `Main.run`, validated against the direct API.
  */
class MainSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Long) = new Timestamp(1618185600000L + min * 60000L)

  test("apply -> feature-views list -> materialize -> incremental -> retrieve") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toString

    // source history: two days of driver rates
    (0 until 48).map { h =>
      (1L + h % 2, t(h * 60L), t(h * 60L), h.toDouble)
    }.toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")

    // the apply spec is itself a registry file (RegistryRow JSON lines)
    val spec = new Registry(spark, s"$dir/spec")
    spec.apply(Seq(FeatureView("driver_stats",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(7L * 24 * 3600))))

    Main.run(spark, List("apply", s"$dir/registry", s"$dir/spec"))
    Main.run(spark, List("feature-views", "list", s"$dir/registry"))
    assert(new Registry(spark, s"$dir/registry").load().contains("driver_stats"))

    // materialize day 1, then incrementally through day 2, into the view's
    // table beside the registry
    Main.run(spark, List("materialize", s"$dir/registry", "driver_stats",
      "2021-04-12T00:00:00Z", "2021-04-13T00:00:00Z"))
    val table = SnapshotTable(s"$dir/table_driver_stats")
    val afterDay1 = table.read(spark)
      .collect().map(r => r.getLong(r.fieldIndex("driver_id")) ->
        r.getDouble(r.fieldIndex("rate"))).toMap
    // latest within day 1 (minutes 0..47 → hours 0..23 at minute h*60? rows
    // are at minute h*60 = hour h; day 1 covers h in [0, 24))
    assert(afterDay1 == Map(1L -> 22.0, 2L -> 23.0))

    Main.run(spark, List("materialize-incremental", s"$dir/registry", "driver_stats",
      "2021-04-14T00:00:00Z"))
    val afterDay2 = table.read(spark)
    // snapshot table holds the latest commit = day-2 latest per key
    val latest = afterDay2.collect().map(r =>
      r.getLong(r.fieldIndex("driver_id")) -> r.getDouble(r.fieldIndex("rate"))).toMap
    assert(latest == Map(1L -> 46.0, 2L -> 47.0))
    // re-running incrementally is a checkpointed no-op (no new snapshot)
    val snapBefore = table.currentSnapshotId
    Main.run(spark, List("materialize-incremental", s"$dir/registry", "driver_stats",
      "2021-04-14T00:00:00Z"))
    assert(table.currentSnapshotId == snapBefore)

    // the registry answers "what's materialized?" from the table's manifest:
    // the two daily intervals, coalesced into one range
    val intervals = new Registry(spark, s"$dir/registry").materializedIntervals("driver_stats")
    assert(intervals.map { case (lo, hi) => (lo.toString, hi.toString) } ==
      Seq(("2021-04-12T00:00:00Z", "2021-04-14T00:00:00Z")))

    // retrieve: CLI output equals the direct API result
    Seq((100L, 1L, t(30 * 60L)), (101L, 2L, t(30 * 60L)))
      .toDF("order_id", "driver_id", "event_timestamp")
      .write.parquet(s"$dir/entity.parquet")
    Main.run(spark, List("retrieve", s"$dir/registry", s"$dir/entity.parquet",
      "driver_stats:rate", "event_timestamp", s"$dir/out"))
    val got = spark.read.parquet(s"$dir/out")
      .select("order_id", "rate").as[(Long, Double)].collect().toMap
    val direct = new Registry(spark, s"$dir/registry").featureStore()
      .getHistoricalFeatures(
        spark.read.parquet(s"$dir/entity.parquet"), Seq("driver_stats:rate"))
      .select("order_id", "rate").as[(Long, Double)].collect().toMap
    assert(got == direct)
    assert(got == Map(100L -> 30.0, 101L -> 29.0)) // hour-30 probe, inclusive <=
  }

  test("apply infers undeclared features from the source schema (CLI e2e)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_infer").toString
    Seq((1L, t(10), t(10), 0.5, "gold"), (1L, t(20), t(21), 0.7, "silver"))
      .toDF("driver_id", "event_timestamp", "created", "rate", "tier")
      .write.parquet(s"$dir/src.parquet")
    // spec view has NO declared features — rate and tier must be inferred
    // (created is the created-ts column, event_timestamp the event ts;
    // neither becomes a feature)
    val spec = new Registry(spark, s"$dir/spec")
    spec.apply(Seq(FeatureView("driver_stats",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Nil,
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))))
    Main.run(spark, List("apply", s"$dir/registry", s"$dir/spec"))
    val applied = new Registry(spark, s"$dir/registry").load()("driver_stats")
    assert(applied.features.map(f => f.name -> ValueType.name(f.valueType)).toMap ==
      Map("rate" -> "DOUBLE", "tier" -> "STRING"))
    // and retrieval over the inferred features works end to end
    Seq((100L, 1L, t(25))).toDF("order_id", "driver_id", "event_timestamp")
      .write.parquet(s"$dir/entity.parquet")
    Main.run(spark, List("retrieve", s"$dir/registry", s"$dir/entity.parquet",
      "driver_stats:rate,driver_stats:tier", "event_timestamp", s"$dir/out"))
    val row = spark.read.parquet(s"$dir/out").collect().head
    assert(row.getDouble(row.fieldIndex("rate")) == 0.7)
    assert(row.getString(row.fieldIndex("tier")) == "silver")
  }

  test("a file:// registry keeps its view tables beside it; teardown removes both") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_uri").toString
    (0 until 48).map(h => (1L + h % 2, t(h * 60L), t(h * 60L), h.toDouble))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val uri = s"file://$dir/registry"
    val reg = new Registry(spark, uri)
    reg.apply(Seq(FeatureView("driver_stats",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")))))
    val view = reg.load()("driver_stats")
    val table = reg.tablePath("driver_stats")
    assert(table == s"file:$dir/table_driver_stats")
    graft.fe.Backfill.run(spark, spark.read.parquet(s"$dir/src.parquet"), view.joinKeys,
      "event_timestamp", Some("created"), t(0), t(48 * 60L), 24L * 3600, SnapshotTable(table))
    assert(new java.io.File(s"$dir/table_driver_stats/meta").isDirectory)
    assert(reg.materializedIntervals("driver_stats").map { case (lo, hi) =>
      (lo.toString, hi.toString) } == Seq(("2021-04-12T00:00:00Z", "2021-04-14T00:00:00Z")))

    Main.run(spark, List("teardown", uri))
    assert(!new java.io.File(s"$dir/registry").exists())
    assert(!new java.io.File(s"$dir/table_driver_stats").exists())
    assert(new java.io.File(s"$dir/src.parquet").exists()) // nothing else goes
    assert(new Registry(spark, uri).load().isEmpty)
  }

  test("get-online-features / entities list / init / teardown subcommands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_onl").toString
    Seq((1L, t(10), t(10), 0.5), (1L, t(20), t(21), 0.7), (2L, t(200), t(200), 0.9))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val spec = new Registry(spark, s"$dir/spec")
    spec.apply(Seq(FeatureView("driver_stats",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))))
    Main.run(spark, List("init", s"$dir/registry"))
    Main.run(spark, List("apply", s"$dir/registry", s"$dir/spec"))
    Main.run(spark, List("entities", "list", s"$dir/registry"))
    Seq(1L, 2L, 3L).toDF("driver_id").write.parquet(s"$dir/keys.parquet")

    // capture stdout of the online lookup: one JSON line per key with
    // PRESENT / NOT_FOUND / future-row semantics (driver 2's row is at t200)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, List("get-online-features", s"$dir/registry",
        s"$dir/keys.parquet", "driver_stats:rate", t(25).toInstant.toString))
    }
    val lines = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq
    assert(lines.size == 3, s"expected 3 JSON rows, got:\n${buf.toString}")
    assert(lines.head.contains("\"driver_stats__rate\":0.7") &&
      lines.head.contains("\"driver_stats__rate__status\":\"PRESENT\""))
    assert(lines(1).contains("NOT_FOUND")) // driver 2: only a future row
    assert(lines(2).contains("NOT_FOUND")) // driver 3: no history

    Main.run(spark, List("teardown", s"$dir/registry"))
    assert(!new java.io.File(s"$dir/registry").exists())
    assert(new Registry(spark, s"$dir/registry").load().isEmpty)
  }
}
