package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.model._

/** End-to-end FeatureStore facade over real parquet sources: multi-view
  * retrieval with field mapping, per-view TTLs, and `view__feature` output
  * naming — the reference's full_feature_names path
  * (feast file.py:136-151), plus registry-driven store construction.
  */
class FeatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Long) = new Timestamp(1618185600000L + min * 60000L)

  test("multi-view retrieval with fullFeatureNames and field mapping, registry-driven") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString

    // two views share a feature name "rate" — full names disambiguate
    Seq(
      (1L, t(10), t(10), 0.5), (1L, t(20), t(21), 0.7), (2L, t(10), t(10), 0.9))
      .toDF("driver_id", "event_timestamp", "created", "cr")
      .write.parquet(s"$dir/driver.parquet")
    Seq((1L, t(5), t(5), 11.0), (2L, t(50), t(50), 22.0))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/rider.parquet")

    val reg = new Registry(spark, s"$dir/registry")
    reg.apply(Seq(
      FeatureView("driver_stats",
        Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
        Seq(Feature("rate", ValueType.DOUBLE)),
        BatchSource(s"$dir/driver.parquet", "event_timestamp", Some("created"),
          fieldMapping = Map("cr" -> "rate")),
        ttlSeconds = Some(3600L)),
      FeatureView("rider_stats",
        Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
        Seq(Feature("rate", ValueType.DOUBLE)),
        BatchSource(s"$dir/rider.parquet", "event_timestamp", Some("created")),
        ttlSeconds = Some(600L)))) // 10 min: rider rate expires fast

    val entity = Seq((100L, 1L, t(25)), (101L, 2L, t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")

    // colliding short names must error without fullFeatureNames...
    intercept[IllegalArgumentException] {
      reg.featureStore().getHistoricalFeatures(
        entity, Seq("driver_stats:rate", "rider_stats:rate"))
    }
    // ...and resolve with them
    val out = reg.featureStore().getHistoricalFeatures(
      entity, Seq("driver_stats:rate", "rider_stats:rate"), fullFeatureNames = true)
    val rows = out.collect().map { r =>
      def opt(c: String) =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c)))
      r.getLong(r.fieldIndex("order_id")) ->
        (opt("driver_stats__rate"), opt("rider_stats__rate"))
    }.toMap

    // driver 1 @ t25: latest driver rate = 0.7 (t20); rider rate from t5 is
    // 20 min old > 10 min ttl → null. driver 2: driver rate 0.9 (15 min old,
    // within 1h); rider row at t50 is in the FUTURE → null.
    assert(rows(100L) == (Some(0.7), None))
    assert(rows(101L) == (Some(0.9), None))

    // online lookup through the same registry views: latest value per key
    // at asOf with per-feature statuses (driver 3 has no history)
    val online = reg.featureStore().getOnlineFeatures(
      Seq(1L, 2L, 3L).toDF("driver_id"),
      Seq("driver_stats:rate", "rider_stats:rate"), t(25))
      .collect().map { r =>
        def s(c: String) = r.getString(r.fieldIndex(c))
        r.getLong(0) -> (s("driver_stats__rate__status"), s("rider_stats__rate__status"))
      }.toMap
    assert(online(1L) == (("PRESENT", "OUTSIDE_MAX_AGE")))
    assert(online(2L) == (("PRESENT", "NOT_FOUND"))) // rider row only in the future
    assert(online(3L) == (("NOT_FOUND", "NOT_FOUND")))
  }

  test("array features route through windowedLate and match the scalar-path result") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_wide").toString
    Seq(
      (1L, t(10), 1L, Seq(1, 2, 3), 0.5),
      (1L, t(20), 2L, Seq(4, 5), 0.7),
      (2L, t(10), 3L, Seq(9), 0.9))
      .toDF("driver_id", "event_timestamp", "created", "toks", "rate")
      .write.parquet(s"$dir/src.parquet")
    val view = FeatureView("seqs",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("toks", ValueType.ListOf(ValueType.INT32)),
        Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))
    val store = new FeatureStore(spark, Map("seqs" -> view))
    val entity = Seq((100L, 1L, t(25)), (101L, 2L, t(25)), (102L, 3L, t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")

    val out = store.getHistoricalFeatures(entity, Seq("seqs:toks", "seqs:rate"))
      .collect().map { r =>
        val toks = if (r.isNullAt(r.fieldIndex("toks"))) Nil
          else r.getSeq[Int](r.fieldIndex("toks")).toList
        r.getLong(r.fieldIndex("order_id")) -> toks
      }.toMap
    assert(out(100L) == List(4, 5)) // latest within ttl
    assert(out(101L) == List(9))
    assert(out(102L) == Nil) // no history for driver 3 → null feature

    // the executed plan must show the late-fetch shape: one as-of window
    // over the narrow projection, the array fetched after it — never
    // riding a window or a sort
    val shape = PlanShape.lateFetchViolations(
      store.getHistoricalFeatures(entity, Seq("seqs:toks")))
    assert(shape.isEmpty, shape)

    // wide routing composes with salting: identical results
    val salted = store.getHistoricalFeatures(entity, Seq("seqs:toks", "seqs:rate"),
      saltBuckets = 4)
      .collect().map { r =>
        val toks = if (r.isNullAt(r.fieldIndex("toks"))) Nil
          else r.getSeq[Int](r.fieldIndex("toks")).toList
        r.getLong(r.fieldIndex("order_id")) -> toks
      }.toMap
    assert(salted == out)
  }

  test("multi-view fold puts wide views last; mixed retrieval stays correct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_mix").toString
    Seq((1L, t(10), t(10), Seq(1, 2, 3))) // "aaa" sorts FIRST by name but is wide
      .toDF("driver_id", "event_timestamp", "created", "toks")
      .write.parquet(s"$dir/wide.parquet")
    Seq((1L, t(12), t(12), 0.5))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/narrow.parquet")
    val store = new FeatureStore(spark, Map(
      "aaa_wide" -> FeatureView("aaa_wide",
        Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
        Seq(Feature("toks", ValueType.ListOf(ValueType.INT32))),
        BatchSource(s"$dir/wide.parquet", "event_timestamp", Some("created"))),
      "zzz_narrow" -> FeatureView("zzz_narrow",
        Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
        Seq(Feature("rate", ValueType.DOUBLE)),
        BatchSource(s"$dir/narrow.parquet", "event_timestamp", Some("created")))))
    val entity = Seq((100L, 1L, t(25))).toDF("order_id", "driver_id", "event_timestamp")
    val out = store.getHistoricalFeatures(
      entity, Seq("aaa_wide:toks", "zzz_narrow:rate")).collect().head
    assert(out.getSeq[Int](out.fieldIndex("toks")).toList == List(1, 2, 3))
    assert(out.getDouble(out.fieldIndex("rate")) == 0.5)
    // narrow view's column lands BEFORE the wide view's (fold order proof)
    val cols = store.getHistoricalFeatures(
      entity, Seq("aaa_wide:toks", "zzz_narrow:rate")).columns.toSeq
    assert(cols.indexOf("rate") < cols.indexOf("toks"))
  }

  test("facade salting (auto hot-key detection) preserves results exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_salt").toString
    // one scorching key (0) with dense history + long tail
    val rows = (0 until 3000).map { i =>
      val k = if (i % 2 == 0) 0L else (i % 50).toLong
      (k, t(i % 500L), t(i % 500L), i.toDouble)
    }
    rows.toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(7200L))
    val store = new FeatureStore(spark, Map("v" -> view))
    val entity = (0 until 400).map { i =>
      (i.toLong, if (i % 3 == 0) 0L else (i % 50).toLong, t(100 + i % 300L))
    }.toDF("order_id", "driver_id", "event_timestamp")
    // sampleFraction in Skew defaults to 1% of 400 rows — detection needs the
    // full frame at this size, so verify with explicit saltBuckets (all keys
    // salted) AND the auto path; both must equal the unsalted plan
    val plain = store.getHistoricalFeatures(entity, Seq("v:rate"))
      .collect().map(r => r.getLong(0) -> r.get(r.fieldIndex("rate"))).toMap
    val salted = store.getHistoricalFeatures(entity, Seq("v:rate"), saltBuckets = 4)
      .collect().map(r => r.getLong(0) -> r.get(r.fieldIndex("rate"))).toMap
    assert(salted == plain)
    val auto = store.getHistoricalFeatures(entity, Seq("v:rate"),
      saltBuckets = 4, autoDetectHotKeys = true)
      .collect().map(r => r.getLong(0) -> r.get(r.fieldIndex("rate"))).toMap
    assert(auto == plain)
  }

  test("entity timestamp column is inferred when not named (reference inference)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_infer").toString
    Seq((1L, t(10), t(10), 0.5))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")))
    val store = new FeatureStore(spark, Map("v" -> view))
    // entity frame's only timestamp column is named "ts" — inferred
    val entity = Seq((100L, 1L, t(25))).toDF("order_id", "driver_id", "ts")
    val out = store.getHistoricalFeatures(entity, Seq("v:rate")).collect()
    assert(out.length == 1 && out.head.getDouble(out.head.fieldIndex("rate")) == 0.5)
  }

  test("mixed-timezone STRING entity timestamps equal the all-UTC retrieval") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_tz").toString
    Seq(
      (1L, t(10), t(10), 0.5), (1L, t(20), t(21), 0.7), (2L, t(10), t(10), 0.9))
      .toDF("driver_id", "event_timestamp", "created", "rate")
      .write.parquet(s"$dir/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))
    val store = new FeatureStore(spark, Map("v" -> view))

    // four representations of the SAME instant 2021-04-12T00:25:00Z
    // (Pacific was PDT, UTC-7, on that date)
    val styled = Seq(
      (100L, 1L, "2021-04-12 00:25:00"),
      (101L, 1L, "2021-04-12T00:25:00+00:00"),
      (102L, 2L, "2021-04-12T02:25:00+02:00"),
      (103L, 2L, "2021-04-11 17:25:00 America/Los_Angeles"))
      .toDF("order_id", "driver_id", "event_timestamp")
    val utc = Seq(
      (100L, 1L, t(25)), (101L, 1L, t(25)), (102L, 2L, t(25)), (103L, 2L, t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")

    def res(e: org.apache.spark.sql.DataFrame) =
      store.getHistoricalFeatures(e, Seq("v:rate"))
        .collect().map(r => r.getLong(0) -> r.get(r.fieldIndex("rate"))).toMap
    val got = res(styled)
    assert(got == res(utc))
    assert(got(100L) == 0.7 && got(103L) == 0.9)
  }

  test("map-typed features route through the wide path (hash uses to_json)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_map").toString
    Seq(
      (1L, t(10), 1L, Map("a" -> 1, "b" -> 2)),
      (1L, t(20), 2L, Map("c" -> 3)),
      (2L, t(10), 3L, Map.empty[String, Int]))
      .toDF("driver_id", "event_timestamp", "created", "props")
      .write.parquet(s"$dir/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("props", ValueType.MapOf(ValueType.STRING, ValueType.INT32))),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))
    val store = new FeatureStore(spark, Map("v" -> view))
    val entity = Seq((100L, 1L, t(25)), (101L, 2L, t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entity, Seq("v:props"))
      .collect().map { r =>
        val m = if (r.isNullAt(r.fieldIndex("props"))) Map.empty[String, Int]
          else r.getMap[String, Int](r.fieldIndex("props")).toMap
        r.getLong(r.fieldIndex("order_id")) -> m
      }.toMap
    assert(out(100L) == Map("c" -> 3))
    assert(out(101L) == Map.empty)
  }

  test("duplicate feature rows do not duplicate entity rows on the wide path") {
    val d = java.nio.file.Files.createTempDirectory("graft_fs_dup").toString
    // two feature rows IDENTICAL in every projected column (legal duplicates)
    Seq(
      (1L, t(10), 1L, Seq(1, 2, 3)),
      (1L, t(10), 1L, Seq(1, 2, 3)),
      (1L, t(20), 2L, Seq(4, 5)))
      .toDF("driver_id", "event_timestamp", "created", "toks")
      .write.parquet(s"$d/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("toks", ValueType.ListOf(ValueType.INT32))),
      BatchSource(s"$d/src.parquet", "event_timestamp", Some("created")),
      ttlSeconds = Some(3600L))
    val store = new FeatureStore(spark, Map("v" -> view))
    // entity at t15 matches the DUPLICATED t10 row — must come back once
    val entity = Seq((100L, 1L, t(15)), (101L, 1L, t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entity, Seq("v:toks")).collect()
    assert(out.length == 2, s"expected 2 rows, got ${out.length}")
    val byId = out.map(r =>
      r.getLong(r.fieldIndex("order_id")) ->
        r.getSeq[Int](r.fieldIndex("toks")).toList).toMap
    assert(byId(100L) == List(1, 2, 3))
    assert(byId(101L) == List(4, 5))
  }

  test("two wide views keep duplicate entity rows and give null-key rows null features") {
    val d = java.nio.file.Files.createTempDirectory("graft_fs_two_wide").toString
    // each source also holds a null-keyed row: it must never match
    Seq(
      (Option(1L), t(10), 1L, Seq(1, 2, 3)),
      (Option(1L), t(20), 2L, Seq(4, 5)),
      (Option.empty[Long], t(10), 3L, Seq(9)))
      .toDF("driver_id", "event_timestamp", "created", "toks")
      .write.parquet(s"$d/a.parquet")
    Seq(
      (Option(1L), t(15), 1L, Map("k" -> 7)),
      (Option.empty[Long], t(5), 2L, Map("k" -> 8)))
      .toDF("driver_id", "event_timestamp", "created", "props")
      .write.parquet(s"$d/b.parquet")
    def view(name: String, path: String, feat: Feature) =
      FeatureView(name, Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
        Seq(feat), BatchSource(path, "event_timestamp", Some("created")),
        ttlSeconds = Some(3600L))
    val store = new FeatureStore(spark, Map(
      "a" -> view("a", s"$d/a.parquet", Feature("toks", ValueType.ListOf(ValueType.INT32))),
      "b" -> view("b", s"$d/b.parquet",
        Feature("props", ValueType.MapOf(ValueType.STRING, ValueType.INT32)))))
    // order 100 appears twice (a legal duplicate entity row); 101 has no key
    val entity = Seq(
      (100L, Option(1L), t(25)), (100L, Option(1L), t(25)), (101L, Option.empty[Long], t(25)))
      .toDF("order_id", "driver_id", "event_timestamp")
    val out = store.getHistoricalFeatures(entity, Seq("a:toks", "b:props")).collect()
      .map { r =>
        val toks = Option(r.getAs[scala.collection.Seq[Int]]("toks")).map(_.toList)
        val props = Option(r.getAs[scala.collection.Map[String, Int]]("props")).map(_.toMap)
        (r.getAs[Long]("order_id"), toks, props)
      }
    assert(out.sortBy(_._1).toSeq == Seq(
      (100L, Some(List(4, 5)), Some(Map("k" -> 7))),
      (100L, Some(List(4, 5)), Some(Map("k" -> 7))),
      (101L, None, None)))
  }

  test("date_partition_column prunes partitions from the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs_dpc").toString
    val rows = (0 until 20).map { d =>
      (1L, t(d * 24 * 60L), t(d * 24 * 60L), d.toDouble)
    }
    rows.toDF("driver_id", "event_timestamp", "created", "rate")
      .withColumn("ds", to_date(col("event_timestamp")))
      .write.partitionBy("ds").parquet(s"$dir/src.parquet")
    val view = FeatureView("v",
      Seq(Entity("driver", ValueType.INT64, Some("driver_id"))),
      Seq(Feature("rate", ValueType.DOUBLE)),
      BatchSource(s"$dir/src.parquet", "event_timestamp", Some("created"),
        datePartitionColumn = Some("ds")),
      ttlSeconds = Some(2L * 24 * 3600)) // 2-day lookback
    val store = new FeatureStore(spark, Map("v" -> view))
    val entity = Seq((100L, 1L, t(10 * 24 * 60L))).toDF("order_id", "driver_id", "event_timestamp")
    val df = store.getHistoricalFeatures(entity, Seq("v:rate"))
    // correct value: the day-10 row itself (same-timestamp inclusive)
    val out = df.collect()
    assert(out.head.getDouble(out.head.fieldIndex("rate")) == 10.0)
    // scan must read only the partitions inside [day8, day10]
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val featureScan = scans.find(_.contains("src.parquet")).get
    assert(featureScan.contains("PartitionFilters") &&
      featureScan.contains("ds"), s"no partition filter in: $featureScan")
  }
}
