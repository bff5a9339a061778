package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.fe.Backfill
import graft.materialize.Materialize
import graft.table.{Interval, SnapshotTable}

/** Model-layer parity with the reference: schema inference rules
  * (feast inference.py:12-118, feature_view.py:262-294), feature-ref
  * validation (feature_store.py:636-681), online-response field statuses
  * (feature_store.py:588-616), and incremental-materialization start
  * (feature_store.py:343-422).
  */
class ModelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("driver_id", LongType),
    StructField("event_timestamp", TimestampType),
    StructField("created", TimestampType),
    StructField("conv_rate", FloatType),
    StructField("trips", IntegerType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("__internal", StringType)))

  test("event timestamp column: explicit name wins; else unique timestamp column") {
    assert(Inference.eventTimestampColumn(schema) == "event_timestamp")
    val single = StructType(Seq(
      StructField("k", LongType), StructField("dt", TimestampType)))
    assert(Inference.eventTimestampColumn(single) == "dt")
    val none = StructType(Seq(StructField("k", LongType)))
    intercept[IllegalArgumentException](Inference.eventTimestampColumn(none))
    val ambiguous = StructType(Seq(
      StructField("a", TimestampType), StructField("b", TimestampType)))
    intercept[IllegalArgumentException](Inference.eventTimestampColumn(ambiguous))
  }

  test("feature inference drops entities, timestamps, and __-prefixed columns") {
    val feats = Inference.features(schema, entityKeys = Set("driver_id"))
    assert(feats.map(_.name) == Seq("conv_rate", "trips", "tokens"))
    assert(feats.find(_.name == "tokens").get.valueType ==
      ValueType.ListOf(ValueType.INT32))
  }

  test("entity type inference from the join-key column") {
    assert(Inference.entityType(schema, "driver_id") == ValueType.INT64)
    intercept[IllegalArgumentException](Inference.entityType(schema, "nope"))
  }

  test("feature refs: unknown view/feature and duplicate output names error") {
    val view = FeatureView("v", Seq(Entity("e", ValueType.INT64)),
      Seq(Feature("f1", ValueType.DOUBLE), Feature("f2", ValueType.DOUBLE)),
      BatchSource("/dev/null", "ts"))
    val views = Map("v" -> view)
    val refs = FeatureRefs.parse(Seq("v:f1", "v:f2"))
    assert(FeatureRefs.group(refs, views, fullFeatureNames = false)(view) == Seq("f1", "f2"))
    intercept[IllegalArgumentException](
      FeatureRefs.group(FeatureRefs.parse(Seq("nope:f1")), views, false))
    intercept[IllegalArgumentException](
      FeatureRefs.group(FeatureRefs.parse(Seq("v:nope")), views, false))
    // same output name from two views collides unless fullFeatureNames
    val view2 = view.copy(name = "w")
    val both = views + ("w" -> view2)
    val colliding = FeatureRefs.parse(Seq("v:f1", "w:f1"))
    intercept[IllegalArgumentException](FeatureRefs.group(colliding, both, false))
    assert(FeatureRefs.group(colliding, both, fullFeatureNames = true).size == 2)
    assert(FeatureRefs.outputName("v", "f1", full = true) == "v__f1")
  }

  test("lookupLatest assigns PRESENT / NULL_VALUE / NOT_FOUND / OUTSIDE_MAX_AGE") {
    import spark.implicits._
    val asOf = tsOf("2021-04-12T12:00:00Z")
    def t(hoursAgo: Int) = new Timestamp(asOf.getTime - hoursAgo * 3600_000L)
    // driver 1: fresh value; driver 2: fresh but null value; driver 3: stale;
    // driver 4: only a FUTURE row (must not be seen); driver 5: absent.
    val history = Seq(
      (1L, t(1), Some(0.3)), (1L, t(4), Some(0.1)),
      (2L, t(1), None),
      (3L, t(30), Some(4.0)),
      (4L, t(-2), Some(9.9)))
      .toDF("driver_id", "ts", "value")
    val keys = Seq(1L, 2L, 3L, 4L, 5L).toDF("driver_id")
    val got = Materialize.lookupLatest(history, keys, Seq("driver_id"), "ts", "value",
      asOf, ttlSeconds = Some(24L * 3600))
      .select(col("driver_id"), col("status"), col("value"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L) == ("PRESENT", Some(0.3))) // latest of the two rows
    assert(got(2L) == ("NULL_VALUE", None))
    assert(got(3L) == ("OUTSIDE_MAX_AGE", Some(4.0)))
    assert(got(4L) == ("NOT_FOUND", None), "future rows are invisible")
    assert(got(5L) == ("NOT_FOUND", None))
  }

  test("registry: apply/load round trip, upsert-by-name, value-type enum names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_registry").toString
    val reg = new Registry(spark, s"$dir/registry")
    assert(reg.load().isEmpty)
    val v1 = FeatureView(
      "driver_stats",
      entities = Seq(Entity("driver", ValueType.INT64, joinKey = Some("driver_id"))),
      features = Seq(
        Feature("conv_rate", ValueType.FLOAT),
        Feature("tokens", ValueType.ListOf(ValueType.INT32))),
      source = BatchSource("/data/driver.parquet", "event_timestamp",
        createdTimestampColumn = Some("created"),
        fieldMapping = Map("cr" -> "conv_rate")),
      ttlSeconds = Some(7200L))
    val v2 = FeatureView("cust", Seq(Entity("customer_id", ValueType.INT64)),
      Seq(Feature("balance", ValueType.DOUBLE)), BatchSource("/data/c.parquet", "dt"))
    reg.apply(Seq(v1, v2))
    assert(reg.load() == Map("driver_stats" -> v1, "cust" -> v2))
    // upsert: re-apply driver_stats with a new ttl; cust survives untouched
    val v1b = v1.copy(ttlSeconds = Some(3600L))
    reg.apply(Seq(v1b))
    assert(reg.load() == Map("driver_stats" -> v1b, "cust" -> v2))
    assert(ValueType.name(ValueType.ListOf(ValueType.INT32)) == "INT32_LIST")
    assert(ValueType.fromName("FLOAT_LIST") == ValueType.ListOf(ValueType.FLOAT))
  }

  test("registry: a file:// URI registry loads every view applied to it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_registry_uri")
    val reg = new Registry(spark, s"${dir.toUri}registry") // file:///tmp/.../registry
    assert(reg.load().isEmpty)
    val a = FeatureView("a", Seq(Entity("k", ValueType.INT64)),
      Seq(Feature("x", ValueType.DOUBLE)), BatchSource("/data/a.parquet", "ts"))
    val b = a.copy(name = "b")
    reg.apply(Seq(a))
    reg.apply(Seq(b))
    assert(reg.load() == Map("a" -> a, "b" -> b))
  }

  test("feature inference logs one WARN naming each skipped column and its type") {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val appender = new AbstractAppender("capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("graft.model.Inference").asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      val mixed = StructType(Seq(
        StructField("k", LongType), StructField("ds", DateType),
        StructField("amount", DecimalType(10, 2)), StructField("v", DoubleType)))
      assert(Inference.features(mixed, Set("k")).map(_.name) == Seq("v"))
      // nothing skipped: nothing logged
      Inference.features(schema, Set("driver_id"))
    } finally logger.removeAppender(appender)
    val got = events.toArray(Array.empty[LogEvent]).toSeq
    assert(got.size == 1)
    assert(got.head.getLevel == org.apache.logging.log4j.Level.WARN)
    val msg = got.head.getMessage.getFormattedMessage
    assert(msg.contains("ds (date)") && msg.contains("amount (decimal(10,2))"), msg)
    assert(!msg.contains("v ("), msg)
  }

  test("ValueType name/fromName round-trips every shape incl. nested maps") {
    import ValueType._
    // the old underscore map encoding failed BOTH these: MAP_STRING_FLOAT_LIST
    // parsed as list-of-map, MAP_UNIX_TIMESTAMP_DOUBLE crashed on load
    val shapes = Seq(
      MapOf(STRING, ListOf(FLOAT)), MapOf(UNIX_TIMESTAMP, DOUBLE),
      ListOf(MapOf(STRING, INT32)), MapOf(STRING, MapOf(INT64, BOOL)),
      ListOf(UNIX_TIMESTAMP), BYTES, UNIX_TIMESTAMP)
    shapes.foreach(vt => assert(fromName(name(vt)) == vt, name(vt)))
  }

  test("named event_timestamp with an unusable type errors; unmappable columns skipped") {
    import org.apache.spark.sql.types._
    // a LongType event_timestamp must ERROR, not silently redirect the
    // as-of key to some other timestamp column
    val bad = StructType(Seq(
      StructField("event_timestamp", LongType), StructField("created_at", TimestampType)))
    intercept[IllegalArgumentException](Inference.eventTimestampColumn(bad))
    // inference skips columns with no ValueType mapping (DateType partition
    // column, DecimalType metric) instead of crashing the whole view
    val mixed = StructType(Seq(
      StructField("k", LongType), StructField("ds", DateType),
      StructField("amount", DecimalType(10, 2)), StructField("v", DoubleType)))
    assert(Inference.features(mixed, Set("k")).map(_.name) == Seq("v"))
  }

  test("incrementalStart resumes from the newest checkpointed interval end") {
    val table = SnapshotTable(java.nio.file.Files.createTempDirectory("graft_incr").toString)
    val end = tsOf("2021-04-13T00:00:00Z")
    // no history: fall back to end - ttl; unbounded ttl → epoch
    assert(Backfill.incrementalStart(table, end, Some(3600L)) ==
      new Timestamp(end.getTime - 3600_000L))
    assert(Backfill.incrementalStart(table, end, None) == new Timestamp(0L))
    // two published intervals with a gap between them: resume after the later
    def publish(lo: String, hi: String) = table.commit(spark.range(1).toDF("k"),
      completes = Some(Interval(tsOf(lo).getTime, tsOf(hi).getTime)))
    publish("2021-04-12T06:00:00Z", "2021-04-12T12:00:00Z")
    publish("2021-04-12T00:00:00Z", "2021-04-12T03:00:00Z")
    assert(Backfill.incrementalStart(table, end, Some(3600L)) ==
      Timestamp.from(java.time.Instant.parse("2021-04-12T12:00:00Z")))
  }
}
