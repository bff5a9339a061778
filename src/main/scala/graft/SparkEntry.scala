package graft

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fe.{Backfill, Windows}
import graft.materialize.Materialize
import graft.model.{BatchSource, Entity, Feature, FeatureView, FieldMapping, ValueType}
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextStats, Tokens}
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.table.SnapshotTable

/** One gate query: the Spark `plan` under test, built over the sf tables in
  * a directory, and the independent DuckDB `oracle` SQL it must equal. The
  * oracle runs over the same tables registered as views; it may be
  * multi-statement (a macro preamble, then the query). Column names match
  * 1:1 between plan and oracle: the gate sorts columns by name before it
  * compares rows.
  */
final case class Gate(name: String, plan: (SparkSession, String) => DataFrame, oracle: String)

/** Driver contract: `queries` (one Spark plan per gate query) and
  * `oracleSql` (its DuckDB oracle), both derived from one registry of
  * [[Gate]] values grouped by family (SURVEY.md §2 operators, the
  * north-rule windowed-feature axis, training-data-pipeline ops). Adding a
  * gate query means adding one `Gate` value to its family. Every gate query
  * has an exact oracle: the hash-kernel queries (q22/q23/q24/q32) replay the
  * portable Mix61/RollingHash arithmetic through DuckDB macros, and q26
  * recomputes the synthetic multimodal features from their generating
  * formulas.
  */
object SparkEntry {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))

  /** Scratch directory for fixture-staging queries (q68 backfill table,
    * q70-q73 stream landing dirs and checkpoints, q74/q75
    * encoded payloads):
    * registers a JVM-exit recursive delete so repeated Verify/Bench/Plans
    * runs don't accumulate orphaned temp data under /tmp. Deletion is
    * deferred to exit because callers return LAZY frames over these paths —
    * the driver materializes them after the query function returns.
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    import java.nio.file.{Files, Path}
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    p
  }

  /** Canonical string digest of an int-token array for gate outputs: the
    * driver's pandas canonicalizer cannot sort array columns (round-1 ERR on
    * q18/q26/q37), so gate queries emit `65,66,67`-style strings instead —
    * matched on the oracle side by DuckDB `array_to_string(..., ',')`, which
    * yields NULL for NULL *and empty* lists (hence the size guard).
    * Raw-array byte-identity stays proven by TokenSeqPitSpec.
    */
  private def arrayDigest(c: Column): Column =
    when(c.isNull || size(c) === 0, lit(null).cast("string"))
      .otherwise(concat_ws(",", c))

  /** Flagship: multi-view point-in-time retrieval on sf0.001 events. */
  def entry(spark: SparkSession): DataFrame =
    q12MultiView(spark, "/root/testdata/sf0.001")

  private def q12MultiView(spark: SparkSession, dir: String) = multiView.plan(spark, dir)

  // -- PIT / as-of joins -----------------------------------------------------

  /** Multi-view composition (J4): two feature views on one entity key,
    * different TTLs, as the two sides of ONE as-of window (one exchange, one
    * sort, one Window) instead of one window per view.
    */
  private val multiView = Gate("q12_multi_view", (spark, dir) => {
    val ev = tbl(spark, dir, "events")
    val entity = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value").as("purchase_value"),
        col("event_id").as("f_created"))
    val errors = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("value").as("error_value"),
        col("event_id").as("f_created"))
    AsOfJoin.windowed(entity, Seq(
      purchases -> AsOfSpec(Seq("user_id"), "ts", "ts", Some("f_created"), Some(6L * 3600),
        Seq("purchase_value")),
      errors -> AsOfSpec(Seq("user_id"), "ts", "ts", Some("f_created"), Some(12L * 3600),
        Seq("error_value"))),
      saltBuckets = 1, hotKeys = Nil)
  }, oracle =
    """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events WHERE event_type = 'purchase'),
      |er AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events WHERE event_type = 'error'),
      |jp AS (SELECT e.event_id, p.value,
      |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY p.f_ts DESC, p.f_id DESC) rn
      |      FROM ent e LEFT JOIN p ON e.user_id = p.user_id
      |        AND p.f_ts <= e.ts AND p.f_ts >= e.ts - INTERVAL 6 HOUR),
      |je AS (SELECT e.event_id, er.value,
      |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY er.f_ts DESC, er.f_id DESC) rn
      |      FROM ent e LEFT JOIN er ON e.user_id = er.user_id
      |        AND er.f_ts <= e.ts AND er.f_ts >= e.ts - INTERVAL 12 HOUR)
      |SELECT ent.event_id, ent.user_id, ent.ts,
      |  jp.value AS purchase_value, je.value AS error_value
      |FROM ent
      |LEFT JOIN (SELECT event_id, value FROM jp WHERE rn = 1) jp USING (event_id)
      |LEFT JOIN (SELECT event_id, value FROM je WHERE rn = 1) je USING (event_id)""".stripMargin)

  private val pitGates: Seq[Gate] = Seq(
    /** J1/J2/W5: windowed (single-shuffle) as-of join; purchase features onto
      * click entities, ttl 4h, tie-break on event_id.
      */
    Gate("q01_pit_asof", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val entity = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val feature = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"),
          col("event_id").as("f_created"))
      AsOfJoin.windowed(entity, feature,
        AsOfSpec(Seq("user_id"), "ts", "ts", Some("f_created"), Some(4L * 3600),
          Seq("purchase_value")))
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 4 HOUR)
        |SELECT event_id, user_id, ts, value AS purchase_value FROM j WHERE rn = 1""".stripMargin),

    /** J2-shaped range join + struct-max dedup; error features onto signup
      * entities, ttl 24h.
      */
    Gate("q08_range_join", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val entity = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val feature = ev.where(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value").as("error_value"),
          col("event_id").as("f_created"))
      AsOfJoin.rangeJoin(entity, feature,
        AsOfSpec(Seq("user_id"), "ts", "ts", Some("f_created"), Some(24L * 3600),
          Seq("error_value")),
        rowId = "event_id")
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events WHERE event_type = 'error'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 24 HOUR)
        |SELECT event_id, user_id, ts, value AS error_value FROM j WHERE rn = 1""".stripMargin),

    multiView,
    /** Token-array PIT (north-rule invariant): pre-tokenized sequences keyed by
      * lang on a synthetic minute grid; token arrays must survive the as-of
      * join byte-identical (asserted raw in TokenSeqPitSpec; digested here for
      * the driver gate).
      */
    Gate("q18_tokens_pit", (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      val anchor = 1618185600L // 2021-04-12T00:00:00Z
      val tokens = transform(
        sequence(lit(1), least(col("n_chars"), lit(32)).cast("int")),
        i => ascii(col("text").substr(i, lit(1))))
      val feature = docs.select(
        col("lang"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60).as("fts"),
        col("doc_id").as("src_doc"),
        tokens.as("tokens"))
      val entity = docs.select(
        col("doc_id").as("probe_id"),
        col("lang"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60 + 90).as("pts"))
      AsOfJoin.windowed(entity, feature,
        AsOfSpec(Seq("lang"), "pts", "fts", Some("src_doc"), Some(3600L),
          Seq("src_doc", "tokens")))
        .select(col("probe_id"), col("lang"), col("src_doc"),
          arrayDigest(col("tokens")).as("tokens_str"))
    }, oracle =
      """WITH f AS (SELECT lang, doc_id AS src_doc, 1618185600 + doc_id*60 AS fe,
        |    list_transform(range(1, least(n_chars, 32) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS tokens
        |  FROM documents),
        |e AS (SELECT doc_id AS probe_id, lang, 1618185600 + doc_id*60 + 90 AS pe FROM documents),
        |j AS (SELECT e.probe_id, e.lang, f.src_doc, f.tokens,
        |    ROW_NUMBER() OVER (PARTITION BY e.probe_id ORDER BY f.fe DESC, f.src_doc DESC) rn
        |  FROM e LEFT JOIN f ON e.lang = f.lang AND f.fe <= e.pe AND f.fe >= e.pe - 3600)
        |SELECT probe_id, lang, src_doc, array_to_string(tokens, ',') AS tokens_str
        |FROM j WHERE rn = 1""".stripMargin),

    /** Salted-skew windowed as-of (north rule): same semantics as the plain
      * windowed join — 8 salt buckets, every key treated as hot — so the gate
      * proves salting preserves correctness.
      */
    Gate("q20_salted_asof", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val entity = ev.where(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val feature = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"),
          col("event_id").as("f_created"))
      AsOfJoin.windowed(entity, feature,
        AsOfSpec(Seq("user_id"), "ts", "ts", Some("f_created"), Some(2L * 3600),
          Seq("click_value")),
        saltBuckets = 8)
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events WHERE event_type = 'click'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 2 HOUR)
        |SELECT event_id, user_id, ts, value AS click_value FROM j WHERE rn = 1""".stripMargin),

    /** Late-materialized as-of join (the wide-payload strategy): `windowed`
      * over the narrow (user_id, ts, event_id) projection, so the window
      * sorts only those; `fetch` then joins the value/props payloads on the
      * matched event ids.
      */
    Gate("q35_late_asof", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val entity = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      val feature = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"),
          col("props").as("purchase_props"), col("event_id").as("purchase_event"))
      val matched = AsOfJoin.windowed(entity,
        feature.select(col("user_id"), col("ts"), col("purchase_event")),
        AsOfSpec(Seq("user_id"), "ts", "ts", Some("purchase_event"), Some(12L * 3600),
          Seq("purchase_event")))
      AsOfJoin.fetch(matched,
        feature.select(col("purchase_event"), col("purchase_value"), col("purchase_props")),
        "purchase_event")
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |feat AS (SELECT event_id AS pe, user_id, ts AS f_ts, value, props FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.pe, f.value, f.props,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.pe DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 12 HOUR)
        |SELECT event_id, user_id, ts, pe AS purchase_event,
        |  value AS purchase_value, props AS purchase_props
        |FROM j WHERE rn = 1""".stripMargin),

    /** Composite-key PIT as-of (J5 through the gate, not just specs): latest
      * prior event value for the same (user, event_type) within ttl 12h —
      * probe and feature partitions are disjoint so every match crosses the
      * join. Same windowed kernel as q01, two-column key.
      */
    Gate("q67_composite_asof", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val entity = ev.where(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      val feature = ev.where(col("event_id") % 5 =!= 0)
        .select(col("user_id"), col("event_type"), col("ts"),
          col("value").as("prev_value"), col("event_id").as("f_created"))
      AsOfJoin.windowed(entity, feature,
        AsOfSpec(Seq("user_id", "event_type"), "ts", "ts", Some("f_created"),
          Some(12L * 3600), Seq("prev_value")))
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, event_type, ts FROM events WHERE event_id % 5 = 0),
        |feat AS (SELECT event_id AS f_id, user_id, event_type, ts AS f_ts, value
        |         FROM events WHERE event_id % 5 <> 0),
        |j AS (SELECT e.event_id, e.user_id, e.event_type, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND e.event_type = f.event_type
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 12 HOUR)
        |SELECT event_id, user_id, event_type, ts, value AS prev_value FROM j WHERE rn = 1""".stripMargin),

    /** Facade end-to-end (P1/P4/P7/S5/J4): registry-driven historical
      * retrieval through the public FeatureStore API — source scan, field
      * mapping (value→purchase_value), entity-bounds scan pruning, ttl as-of
      * join, ref validation.
      */
    Gate("q30_feature_store", (spark, dir) => {
      val view = FeatureView(
        "purchases",
        entities = Seq(Entity("user", ValueType.INT64, joinKey = Some("user_id"))),
        features = Seq(Feature("purchase_value", ValueType.DOUBLE)),
        source = BatchSource(s"$dir/events.parquet", eventTimestampColumn = "ts",
          createdTimestampColumn = Some("event_id"),
          fieldMapping = Map("value" -> "purchase_value")),
        ttlSeconds = Some(8L * 3600))
      val store = new FeatureStore(spark, Map("purchases" -> view))
      val entity = tbl(spark, dir, "events").where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      store.getHistoricalFeatures(entity, Seq("purchases:purchase_value"), entityTsColumn = "ts")
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 8 HOUR)
        |SELECT event_id, user_id, ts, value AS purchase_value FROM j WHERE rn = 1""".stripMargin),

    /** Facade retrieval of an ARRAY feature (token payload): the q18 scenario
      * driven through the public FeatureStore API — the store detects the wide
      * payload and late-materializes it (narrow window on a scan-position
      * row id + shuffle-hash fetch; see FeatureStore.getHistoricalFeatures),
      * so this gate row also proves the wide-payload routing end-to-end.
      * Same oracle as q18.
      */
    Gate("q41_fs_tokens", (spark, dir) => {
      val out = scratchDir("graft_q41_src").toString
      val anchor = 1618185600L
      val docs = tbl(spark, dir, "documents")
      docs.select(
        col("lang"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60).as("fts"),
        col("doc_id").as("src_doc"),
        transform(
          sequence(lit(1), least(col("n_chars"), lit(32)).cast("int")),
          i => ascii(col("text").substr(i, lit(1)))).as("tokens"))
        .write.mode("overwrite").parquet(out)
      val view = FeatureView(
        "tokview",
        entities = Seq(Entity("lang", ValueType.STRING)),
        features = Seq(
          Feature("src_doc", ValueType.INT64),
          Feature("tokens", ValueType.ListOf(ValueType.INT32))),
        source = BatchSource(out, eventTimestampColumn = "fts",
          createdTimestampColumn = Some("src_doc")),
        ttlSeconds = Some(3600L))
      val store = new FeatureStore(spark, Map("tokview" -> view))
      val entity = docs.select(
        col("doc_id").as("probe_id"),
        col("lang"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60 + 90).as("pts"))
      store.getHistoricalFeatures(entity, Seq("tokview:src_doc", "tokview:tokens"),
        entityTsColumn = "pts")
        .select(col("probe_id"), col("lang"), col("src_doc"),
          arrayDigest(col("tokens")).as("tokens_str"))
    }, oracle =
      """WITH f AS (SELECT lang, doc_id AS src_doc, 1618185600 + doc_id*60 AS fe,
        |    list_transform(range(1, least(n_chars, 32) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS tokens
        |  FROM documents),
        |e AS (SELECT doc_id AS probe_id, lang, 1618185600 + doc_id*60 + 90 AS pe FROM documents),
        |j AS (SELECT e.probe_id, e.lang, f.src_doc, f.tokens,
        |    ROW_NUMBER() OVER (PARTITION BY e.probe_id ORDER BY f.fe DESC, f.src_doc DESC) rn
        |  FROM e LEFT JOIN f ON e.lang = f.lang AND f.fe <= e.pe AND f.fe >= e.pe - 3600)
        |SELECT probe_id, lang, src_doc, array_to_string(tokens, ',') AS tokens_str
        |FROM j WHERE rn = 1""".stripMargin),

    /** F1 timezone torture (reference driver_test_data.py:53-75 +
      * utils.py:6-11): entity timestamps arrive as STRINGS cycling through
      * tz-naive-UTC / explicit +00:00 / +02:00-shifted wall / US-Pacific wall
      * with a region zone id — four representations of the SAME instants —
      * and flow through the facade's normalization into the PIT join. The
      * oracle computes over the plain UTC timestamps, so a pass proves the
      * mixed-tz retrieval is identical to the all-UTC one (zero temporal
      * drift from representation).
      */
    // q46 must equal the all-UTC retrieval exactly — the oracle IS the
    // plain-UTC PIT join (facade ttl/tie-break mirror q01's shape)
    Gate("q46_tz_normalize", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val m = col("event_id") % 4
      val frac = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val fracT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
      val wallPacific =
        convert_timezone(lit("UTC"), lit("America/Los_Angeles"), col("ts"))
      val styled = ev.where(col("event_type") === "click").select(
        col("event_id"), col("user_id"),
        when(m === 0, date_format(col("ts"), frac))
          .when(m === 1, concat(date_format(col("ts"), fracT), lit("+00:00")))
          .when(m === 2, concat(
            date_format(col("ts") + expr("INTERVAL 2 HOURS"), fracT), lit("+02:00")))
          .otherwise(concat(date_format(wallPacific, frac), lit(" America/Los_Angeles")))
          .as("ts"))
      val view = FeatureView(
        "purchases",
        entities = Seq(Entity("user", ValueType.INT64, joinKey = Some("user_id"))),
        features = Seq(Feature("purchase_value", ValueType.DOUBLE)),
        source = BatchSource(s"$dir/events.parquet", eventTimestampColumn = "ts",
          createdTimestampColumn = Some("event_id"),
          fieldMapping = Map("value" -> "purchase_value")),
        ttlSeconds = Some(4L * 3600))
      val store = new FeatureStore(spark, Map("purchases" -> view))
      store.getHistoricalFeatures(styled, Seq("purchases:purchase_value"), entityTsColumn = "ts")
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value FROM events),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 4 HOUR)
        |SELECT event_id, user_id, ts, value AS purchase_value FROM j WHERE rn = 1""".stripMargin),

    /** TWO wide (array) views through one retrieval — exercises the facade's
      * late materialization end to end: each wide view windows only a row id,
      * and both payloads are fetched after the last window, so neither token
      * array rides any window exchange/sort (plan evidence in PLANS.md).
      * Views use DIFFERENT entity keys (lang vs source), different TTLs, and
      * different timestamp grids.
      */
    Gate("q47_two_wide_views", (spark, dir) => {
      val outA = scratchDir("graft_q47_src_a").toString
      val outB = scratchDir("graft_q47_src_b").toString
      val anchor = 1618185600L
      val docs = tbl(spark, dir, "documents")
      def charCodes(n: Int) = transform(
        sequence(lit(1), least(col("n_chars"), lit(n)).cast("int")),
        i => ascii(col("text").substr(i, lit(1))))
      docs.select(
        col("lang"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60).as("fts"),
        col("doc_id").as("src_doc"),
        charCodes(24).as("tokens"))
        .write.mode("overwrite").parquet(outA)
      docs.select(
        col("source"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 45).as("fts2"),
        col("doc_id").as("src2"),
        reverse(charCodes(16)).as("rev_toks"))
        .write.mode("overwrite").parquet(outB)
      val viewA = FeatureView(
        "tokv",
        entities = Seq(Entity("lang", ValueType.STRING)),
        features = Seq(
          Feature("src_doc", ValueType.INT64),
          Feature("tokens", ValueType.ListOf(ValueType.INT32))),
        source = BatchSource(outA, eventTimestampColumn = "fts",
          createdTimestampColumn = Some("src_doc")),
        ttlSeconds = Some(3600L))
      val viewB = FeatureView(
        "revv",
        entities = Seq(Entity("source", ValueType.STRING)),
        features = Seq(Feature("rev_toks", ValueType.ListOf(ValueType.INT32))),
        source = BatchSource(outB, eventTimestampColumn = "fts2",
          createdTimestampColumn = Some("src2")),
        ttlSeconds = Some(1800L))
      val store = new FeatureStore(spark, Map("tokv" -> viewA, "revv" -> viewB))
      val entity = docs.select(
        col("doc_id").as("probe_id"),
        col("lang"), col("source"),
        timestamp_seconds(lit(anchor) + col("doc_id") * 60 + 90).as("pts"))
      store.getHistoricalFeatures(
        entity, Seq("tokv:src_doc", "tokv:tokens", "revv:rev_toks"),
        entityTsColumn = "pts")
        .select(col("probe_id"), col("lang"), col("source"), col("src_doc"),
          arrayDigest(col("tokens")).as("tokens_str"),
          arrayDigest(col("rev_toks")).as("rev_str"))
    }, oracle =
      """WITH f1 AS (SELECT lang, doc_id AS src_doc, 1618185600 + doc_id*60 AS fe,
        |    list_transform(range(1, least(n_chars, 24) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS tokens
        |  FROM documents),
        |f2 AS (SELECT source, doc_id AS src2, 1618185600 + doc_id*45 AS fe2,
        |    list_reverse(list_transform(range(1, least(n_chars, 16) + 1),
        |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT))) AS rev
        |  FROM documents),
        |e AS (SELECT doc_id AS probe_id, lang, source, 1618185600 + doc_id*60 + 90 AS pe FROM documents),
        |j1 AS (SELECT e.probe_id, f1.src_doc, f1.tokens,
        |    ROW_NUMBER() OVER (PARTITION BY e.probe_id ORDER BY f1.fe DESC, f1.src_doc DESC) rn
        |  FROM e LEFT JOIN f1 ON e.lang = f1.lang AND f1.fe <= e.pe AND f1.fe >= e.pe - 3600),
        |j2 AS (SELECT e.probe_id, f2.rev,
        |    ROW_NUMBER() OVER (PARTITION BY e.probe_id ORDER BY f2.fe2 DESC, f2.src2 DESC) rn
        |  FROM e LEFT JOIN f2 ON e.source = f2.source AND f2.fe2 <= e.pe AND f2.fe2 >= e.pe - 1800)
        |SELECT e.probe_id, e.lang, e.source, j1.src_doc,
        |  CASE WHEN j1.tokens IS NULL OR len(j1.tokens) = 0 THEN NULL
        |       ELSE array_to_string(j1.tokens, ',') END AS tokens_str,
        |  CASE WHEN j2.rev IS NULL OR len(j2.rev) = 0 THEN NULL
        |       ELSE array_to_string(j2.rev, ',') END AS rev_str
        |FROM e JOIN j1 ON j1.probe_id = e.probe_id AND j1.rn = 1
        |       JOIN j2 ON j2.probe_id = e.probe_id AND j2.rn = 1""".stripMargin))

  // -- materialization / latest-per-key / online lookup ----------------------

  /** Latest event per user, ties to the larger event_id: q02's oracle. */
  private val latestEventSql =
    """SELECT user_id, event_id, ts, event_type, value, props FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      |  FROM events) WHERE rn = 1""".stripMargin

  private val materializeGates: Seq[Gate] = Seq(
    /** A1/A2: latest event per user (max_by struct aggregate). */
    Gate("q02_latest_per_key", (spark, dir) =>
      Materialize.latestPerKey(
        tbl(spark, dir, "events"), Seq("user_id"), "ts", ties = Seq("event_id")),
      oracle = latestEventSql),

    /** P3+A1: pull_latest in [2024-01-10, 2024-01-20). */
    Gate("q03_pull_latest", (spark, dir) =>
      Materialize.pullLatest(
        tbl(spark, dir, "events").withColumn("__tie", col("event_id")),
        Seq("user_id"), "ts", Some("__tie"),
        ts("2024-01-10T00:00:00Z"), ts("2024-01-20T00:00:00Z")).drop("__tie"),
      oracle =
        """SELECT user_id, event_id, ts, event_type, value, props FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
          |  FROM events
          |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
          |) WHERE rn = 1""".stripMargin),

    /** J7: online point-lookup emulation — latest table semi-joined to keys. */
    Gate("q11_online_lookup", (spark, dir) => {
      val latest = Materialize.latestPerKey(
        tbl(spark, dir, "events"), Seq("user_id"), "ts", ties = Seq("event_id"))
      val keys = tbl(spark, dir, "events")
        .select(col("user_id")).where(col("user_id") % 7 === 0).distinct()
      latest.join(broadcast(keys), Seq("user_id"), "left_semi")
    }, oracle =
      """SELECT user_id, event_id, ts, event_type, value, props FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |  FROM events) WHERE rn = 1 AND user_id % 7 = 0""".stripMargin),

    /** U1 + A1: overlapping-slice union then latest dedup. */
    Gate("q19_union_latest", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val a = ev.where(col("ts") < lit(ts("2024-01-15T00:00:00Z")))
      val b = ev.where(col("ts") >= lit(ts("2024-01-10T00:00:00Z")))
      Materialize.latestPerKey(a.union(b), Seq("user_id"), "ts", ties = Seq("event_id"))
    }, oracle =
      """WITH u AS (
        |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
        |  UNION ALL
        |  SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00')
        |SELECT user_id, event_id, ts, event_type, value, props FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |  FROM u) WHERE rn = 1""".stripMargin),

    /** A2/W1: the reference's SQL-path latest (ROW_NUMBER()=1 window) —
      * cross-checks the max_by aggregate variant of q02.
      */
    Gate("q29_latest_windowed", (spark, dir) =>
      Materialize.latestPerKeyWindowed(
        tbl(spark, dir, "events"), Seq("user_id"), "ts", ties = Seq("event_id")),
      oracle = latestEventSql),

    /** Online-response statuses (J7 + FieldStatus): point lookup of the
      * latest value per requested key as of a fixed time, with
      * PRESENT / NOT_FOUND / OUTSIDE_MAX_AGE semantics; probe keys include
      * ids with no history at all.
      */
    Gate("q36_online_status", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
      val keys = spark.range(-5, 155).select(col("id").as("user_id"))
      Materialize.lookupLatest(
        ev.select(col("user_id"), col("ts"), col("value"), col("event_id")),
        keys, Seq("user_id"), "ts", "value",
        ts("2024-01-20T00:00:00Z"), Some(2L * 3600), ties = Seq("event_id"))
        .select(col("user_id"),
          unix_timestamp(col("ts")).cast("long").as("last_ts"),
          col("value"), col("status"))
    }, oracle =
      """WITH keys AS (SELECT CAST(range AS BIGINT) AS user_id FROM range(-5, 155)),
        |latest AS (
        |  SELECT user_id, ts, value FROM (
        |    SELECT user_id, ts, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |    FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00') WHERE rn = 1)
        |SELECT k.user_id, CAST(floor(epoch(l.ts)) AS BIGINT) AS last_ts, l.value,
        |  CASE WHEN l.ts IS NULL THEN 'NOT_FOUND'
        |       WHEN l.ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 2 HOUR THEN 'OUTSIDE_MAX_AGE'
        |       WHEN l.value IS NULL THEN 'NULL_VALUE'
        |       ELSE 'PRESENT' END AS status
        |FROM keys k LEFT JOIN latest l USING (user_id)""".stripMargin),

    /** Multi-view multi-feature online lookup (the full get_online_features
      * assembly): two views over events with different TTLs, two features in
      * one view, per-feature statuses covering PRESENT / NOT_FOUND /
      * OUTSIDE_MAX_AGE / NULL_VALUE (value nulled on event_id % 97 == 0 so
      * NULL_VALUE provably occurs). Probe keys include ids with no history.
      */
    Gate("q42_online_multi", (spark, dir) => {
      val ev = tbl(spark, dir, "events")
        .withColumn("nval",
          when(col("event_id") % 97 === 0, lit(null)).otherwise(col("value")))
      val keys = spark.range(-5, 155).select(col("id").as("user_id"))
      val views = Seq(
        Materialize.OnlineView("purch",
          ev.where(col("event_type") === "purchase"),
          Seq("user_id"), "ts", Seq("nval", "props"),
          ttlSeconds = Some(48L * 3600), ties = Seq("event_id")),
        Materialize.OnlineView("clicks",
          ev.where(col("event_type") === "click"),
          Seq("user_id"), "ts", Seq("nval"),
          ttlSeconds = Some(2L * 3600), ties = Seq("event_id")))
      Materialize.lookupMulti(keys, views, ts("2024-01-20T00:00:00Z"))
        .select(col("user_id"),
          col("purch__nval"), col("purch__nval__status"),
          col("purch__props"), col("purch__props__status"),
          col("clicks__nval"), col("clicks__nval__status"))
    }, oracle =
      """WITH ev AS (SELECT *, CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS nval
        |  FROM events),
        |keys AS (SELECT CAST(range AS BIGINT) AS user_id FROM range(-5, 155)),
        |p AS (SELECT user_id, ts, nval, props FROM (
        |    SELECT user_id, ts, nval, props,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |    FROM ev WHERE event_type = 'purchase' AND ts <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1),
        |c AS (SELECT user_id, ts, nval FROM (
        |    SELECT user_id, ts, nval,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        |    FROM ev WHERE event_type = 'click' AND ts <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1)
        |SELECT k.user_id,
        |  p.nval AS purch__nval,
        |  CASE WHEN p.ts IS NULL THEN 'NOT_FOUND'
        |       WHEN p.ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 48 HOUR THEN 'OUTSIDE_MAX_AGE'
        |       WHEN p.nval IS NULL THEN 'NULL_VALUE' ELSE 'PRESENT' END AS purch__nval__status,
        |  p.props AS purch__props,
        |  CASE WHEN p.ts IS NULL THEN 'NOT_FOUND'
        |       WHEN p.ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 48 HOUR THEN 'OUTSIDE_MAX_AGE'
        |       WHEN p.props IS NULL THEN 'NULL_VALUE' ELSE 'PRESENT' END AS purch__props__status,
        |  c.nval AS clicks__nval,
        |  CASE WHEN c.ts IS NULL THEN 'NOT_FOUND'
        |       WHEN c.ts < TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 2 HOUR THEN 'OUTSIDE_MAX_AGE'
        |       WHEN c.nval IS NULL THEN 'NULL_VALUE' ELSE 'PRESENT' END AS clicks__nval__status
        |FROM keys k LEFT JOIN p USING (user_id) LEFT JOIN c USING (user_id)""".stripMargin))

  // -- windowed feature engineering, projection, bounds ----------------------

  private val feGates: Seq[Gate] = Seq(
    Gate("q04_lag_lead", (spark, dir) =>
      Windows.lagLead(tbl(spark, dir, "events"), Seq("user_id"), "ts", "value",
        n = 1, ties = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("value_lag1"), col("value_lead1")),
      oracle =
        """SELECT event_id, user_id, value,
          |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_lag1,
          |  lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_lead1
          |FROM events""".stripMargin),

    Gate("q05_tumbling", (spark, dir) =>
      Windows.tumbling(tbl(spark, dir, "events"), Seq("user_id"), "ts", 3600,
        Seq(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))),
      oracle =
        """SELECT user_id, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS win_start,
          |  count(*) AS n_events, round(sum(value), 4) AS sum_value
          |FROM events GROUP BY 1, 2""".stripMargin),

    Gate("q06_sliding", (spark, dir) =>
      Windows.sliding(tbl(spark, dir, "events"), Seq("user_id"), "ts", 3600, 900,
        Seq(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))),
      oracle =
        """SELECT user_id, CAST((floor(epoch(ts)/900) - k)*900 AS BIGINT) AS win_start,
          |  count(*) AS n_events, round(sum(value), 4) AS sum_value
          |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) t(k) GROUP BY 1, 2""".stripMargin),

    Gate("q07_session", (spark, dir) =>
      Windows.sessionFeatures(tbl(spark, dir, "events"), Seq("user_id"), "ts",
        gapSeconds = 1800, valueCol = "value", ties = Seq("event_id"))
        .withColumn("sum_value", round(col("sum_value"), 4)),
      oracle =
        """WITH b AS (SELECT user_id, ts, event_id, value,
          |    CASE WHEN lag(ts) OVER w IS NULL
          |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS brk
          |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |s AS (SELECT user_id, ts, value,
          |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          |  FROM b)
          |SELECT user_id, session_id,
          |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end,
          |  count(*) AS n_events, round(sum(value), 4) AS sum_value
          |FROM s GROUP BY 1, 2""".stripMargin),

    Gate("q21_rolling", (spark, dir) =>
      Windows.rolling(tbl(spark, dir, "events"), Seq("user_id"), "ts", 3600, "value")
        .select(col("event_id"), col("user_id"),
          round(col("value_rolling_sum"), 4).as("rolling_sum"),
          col("value_rolling_cnt").as("rolling_cnt")),
      oracle =
        """SELECT event_id, user_id,
          |  round(SUM(value) OVER w, 4) AS rolling_sum,
          |  CAST(COUNT(*) OVER w AS BIGINT) AS rolling_cnt
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    /** P1/P2/P6: field mapping + pruning + reorder. */
    Gate("q09_field_mapping", (spark, dir) =>
      FieldMapping(
        tbl(spark, dir, "lineitem"),
        Map("l_orderkey" -> "order_key", "l_quantity" -> "qty",
          "l_extendedprice" -> "price"))
        .select(col("order_key"), col("l_linenumber").as("line_no"), col("qty"), col("price")),
      oracle =
        """SELECT l_orderkey AS order_key, l_linenumber AS line_no,
          |  l_quantity AS qty, l_extendedprice AS price FROM lineitem""".stripMargin),

    /** S5/A3: entity-frame timestamp bounds as epoch seconds. */
    Gate("q10_ts_bounds", (spark, dir) =>
      tbl(spark, dir, "events").agg(
        unix_timestamp(min(col("ts"))).as("min_ts"),
        unix_timestamp(max(col("ts"))).as("max_ts"),
        count(lit(1)).as("n_rows")),
      oracle =
        """SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts,
          |  CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts, count(*) AS n_rows
          |FROM events""".stripMargin))

  // -- dedup / similarity ----------------------------------------------------

  /** Shared shingle CTEs: tokenize, 3-gram, portable rolling-hash. */
  private val shingleCtes: String =
    """words AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
      |grams AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |          FROM words, UNNEST(range(1, len(w) - 1)) t(i)),
      |sh AS (SELECT DISTINCT doc_id, rh61(g) AS shingle FROM grams)""".stripMargin

  /** Shared CTE chain for q50/q51: q14's exact-Jaccard pairs (string-shingle
    * formulation — equivalent to the hashed one, proven by q14) plus the
    * transitive closure as a recursive CTE; `comp` = min reachable id.
    */
  private val componentCtes: String =
    s"""WITH RECURSIVE $shingleCtes,
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pairs AS (SELECT id1, id2 FROM inter JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
      |          WHERE round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) >= 0.05),
      |e2 AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
      |r AS (SELECT a, b FROM e2 UNION SELECT r.a, e.b FROM r JOIN e2 e ON r.b = e.a),
      |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component FROM r GROUP BY a)""".stripMargin

  /** Shared by q44 (plain containment) and q63 (Bloom-prefiltered): the two
    * plans must produce byte-identical decontamination results.
    */
  private val containmentOracle: String =
    """WITH words AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      |       FROM words, UNNEST(range(1, len(w) - 1)) t(i)),
      |b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id < 20),
      |bn AS (SELECT bench_id, count(*) AS n FROM b GROUP BY 1),
      |ix AS (SELECT sh.doc_id, b.bench_id, count(*) AS c
      |       FROM sh JOIN b USING (s) GROUP BY 1, 2)
      |SELECT ix.doc_id, ix.bench_id, round(c / CAST(n AS DOUBLE), 6) AS containment
      |FROM ix JOIN bn USING (bench_id)
      |WHERE round(c / CAST(n AS DOUBLE), 6) >= 0.5""".stripMargin

  /** Sign-LSH signature columns for the embeddings table (bits 0..n-1, the
    * portable planeSign: mix61(dim, 101+bit) & 1 → ±1). `flat` must provide
    * (vec_id, i, v) with 1-based i.
    */
  private def sigSelect(numBits: Int): String =
    (0 until numBits).map { b =>
      s"""(CASE WHEN SUM(CAST(v AS DOUBLE) *
         |      (CASE WHEN (mix61(CAST(i - 1 AS BIGINT), ${101 + b})) & 1 = 1 THEN 1.0 ELSE -1.0 END)) > 0
         |    THEN ${1L << b} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  /** Shared q79/q80 CTE block: nearest-of-8-lowest-id-centroids assignment
    * (q39's shape), within-cell pairs, exact cosine ≥ 0.2 (full-precision
    * threshold on both sides, like q32).
    */
  private val semdedupCtes: String =
    """flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |    UNNEST(embedding) AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT 8),
      |cflat AS (SELECT c.cid, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.cid),
      |cc AS (SELECT f.vec_id, c.cid,
      |    SUM(CAST(f.v AS DOUBLE) * c.v)
      |      / (SQRT(SUM(CAST(f.v AS DOUBLE) * f.v)) * SQRT(SUM(CAST(c.v AS DOUBLE) * c.v))) AS sim
      |  FROM flat f JOIN cflat c ON c.i = f.i GROUP BY 1, 2),
      |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM cc)
      |  WHERE rn = 1),
      |cand AS (SELECT x.vec_id AS id1, y.vec_id AS id2, x.cid AS cell
      |         FROM asg x JOIN asg y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      |dots AS (SELECT p.id1, p.id2, p.cell,
      |    SUM(CAST(a.v AS DOUBLE) * b.v) AS dot,
      |    SQRT(SUM(CAST(a.v AS DOUBLE) * a.v)) * SQRT(SUM(CAST(b.v AS DOUBLE) * b.v)) AS nrm
      |  FROM cand p
      |  JOIN flat a ON a.vec_id = p.id1
      |  JOIN flat b ON b.vec_id = p.id2 AND b.i = a.i
      |  GROUP BY 1, 2, 3),
      |thr AS (SELECT id1, id2, cell, dot/nrm AS cos FROM dots WHERE dot/nrm >= 0.2)""".stripMargin

  private val dedupGates: Seq[Gate] = Seq(
    Gate("q13_dedup_exact", (spark, dir) =>
      Dedup.exact(tbl(spark, dir, "documents"), "text", "doc_id"),
      oracle =
        """SELECT min(doc_id) AS doc_id, text, count(*) AS n_dups
          |FROM documents GROUP BY text""".stripMargin),

    /** Digest-keyed exact dedup (the 100 TB shape of q13): the aggregate
      * shuffles (xxhash64-pair, doc_id) 24-byte rows, never the document
      * text. Oracle groups by the raw text — results agree because the
      * 128-bit digest is collision-free at any feasible corpus size (and the
      * run would fail loudly on one via the verify path, spec-exercised).
      */
    Gate("q84_dedup_digest", (spark, dir) =>
      Dedup.exactByDigest(tbl(spark, dir, "documents"), "text", "doc_id"),
      oracle =
        """SELECT min(doc_id) AS doc_id, count(*) AS n_dups
          |FROM documents GROUP BY text""".stripMargin),

    /** maxDf=10k: boilerplate shingles in >10k docs are excluded from
      * candidate generation (they contribute df² join rows and zero
      * discrimination); no sf fixture comes near the cap, so the oracle is
      * byte-identical — the cap exists for the 100 TB run.
      */
    Gate("q14_ngram_jaccard", (spark, dir) =>
      Dedup.ngramJaccard(tbl(spark, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.05, maxDf = Some(10000L)),
      oracle =
        """WITH words AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
          |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          |       FROM words, UNNEST(range(1, len(w) - 1)) t(i)),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix
          |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT id1, id2, round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) AS jaccard
          |FROM inter JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
          |WHERE CAST(ix AS DOUBLE) / (s1.n + s2.n - ix) >= 0.05""".stripMargin),

    /** Prefix-filtered exact Jaccard (PPJoin-style lossless pruning) at a
      * moderate threshold — same oracle family as q14, far fewer candidates.
      */
    Gate("q40_jaccard_prefix", (spark, dir) =>
      Dedup.ngramJaccardPrefix(tbl(spark, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.4),
      oracle =
        """WITH words AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents),
          |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
          |       FROM words, UNNEST(range(1, len(w) - 1)) t(i)),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS ix
          |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
          |SELECT id1, id2, round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) AS jaccard
          |FROM inter JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
          |WHERE round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) >= 0.4""".stripMargin),

    Gate("q22_minhash_lsh", (spark, dir) =>
      Dedup.minhashLsh(tbl(spark, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 16, threshold = 0.05),
      oracle =
        graft.functions.Mix61.oracleMacros +
          s"""WITH $shingleCtes,
            |mh AS (SELECT doc_id, i, MIN(mix61(shingle, i)) AS m
            |       FROM (SELECT doc_id, shingle, UNNEST(range(0, 32)) AS i FROM sh)
            |       GROUP BY doc_id, i),
            |bnd AS (SELECT doc_id, i // 2 AS band,
            |        mix61(mix61(0 + MIN(CASE WHEN i % 2 = 0 THEN m END), 17)
            |              + MIN(CASE WHEN i % 2 = 1 THEN m END), 17) AS sig
            |        FROM mh GROUP BY doc_id, i // 2),
            |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2
            |         FROM bnd x JOIN bnd y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
            |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            |ix AS (SELECT c.id1, c.id2, count(*) AS ix FROM cand c
            |       JOIN sh a ON a.doc_id = c.id1
            |       JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
            |       GROUP BY 1, 2)
            |SELECT id1, id2, round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) AS jaccard
            |FROM ix JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
            |WHERE round(CAST(ix AS DOUBLE) / (s1.n + s2.n - ix), 6) >= 0.05""".stripMargin),

    Gate("q23_simhash_pairs", (spark, dir) =>
      Dedup.simhashPairs(tbl(spark, dir, "documents"), "doc_id", "text",
        shingleN = 3, maxHamming = 3),
      oracle = {
        val nBits = graft.ops.Dedup.SimhashBits
        val bitSums = (0 until nBits)
          .map(b => s"SUM(CASE WHEN (m >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
          .mkString(",\n        ")
        val fpSum = (0 until nBits)
          .map(b => s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
        graft.functions.Mix61.oracleMacros +
          s"""WITH $shingleCtes,
            |mh AS (SELECT doc_id, mix61(shingle, 211) AS m FROM sh),
            |bs AS (SELECT doc_id,
            |        $bitSums
            |       FROM mh GROUP BY doc_id),
            |fp AS (SELECT doc_id, $fpSum AS f FROM bs),
            |blk AS (SELECT doc_id, f, UNNEST(range(0, 4)) AS blk FROM fp),
            |keyed AS (SELECT doc_id, f, blk, (f >> CAST(blk * 15 AS INT)) & 32767 AS key FROM blk),
            |cand AS (SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2, x.f AS f1, y.f AS f2
            |         FROM keyed x JOIN keyed y ON x.blk = y.blk AND x.key = y.key AND x.doc_id < y.doc_id)
            |SELECT id1, id2, CAST(bit_count(xor(f1, f2)) AS INT) AS hamming
            |FROM cand WHERE bit_count(xor(f1, f2)) <= 3""".stripMargin
      }),

    /** Benchmark decontamination: docs whose trigram sets contain >= 50% of
      * any "eval set" doc (here: doc_id < 20 as the pretend benchmark).
      */
    Gate("q44_decontaminate", (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      Dedup.containment(docs, docs.where(col("doc_id") < 20), "doc_id", "text",
        n = 3, threshold = 0.5)
    }, oracle = containmentOracle),

    /** q44's decontamination through the Bloom pre-filter path: the benchmark
      * shingle set folds into a bitmap probed map-side, the exact join kills
      * false positives — same rows/scores/oracle as q44, scan-stage-filtered
      * plan. A deliberately small bitmap (64 Kbit for ~2k bench shingles,
      * ~28% fpr) proves the exact-verify step does real work.
      */
    // the Bloom path is output-identical by construction (exact verify
    // join); the SAME oracle proves it end-to-end
    Gate("q63_decontaminate_bloom", (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      Dedup.containmentBloom(docs, docs.where(col("doc_id") < 20), "doc_id", "text",
        n = 3, threshold = 0.5, mBits = 1L << 16, k = 4)
    }, oracle = containmentOracle),

    /** Near-dup clustering: connected components over the exact-Jaccard pair
      * graph (driver union-find ≤ gate, large-star/small-star above) — the
      * step that turns pairwise matches into one-representative-per-cluster
      * dedup.
      */
    Gate("q50_components", (spark, dir) => {
      val pairs = Dedup.ngramJaccard(tbl(spark, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.05)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp").as("component"))
    }, oracle =
      graft.functions.Mix61.oracleMacros + componentCtes +
        "\nSELECT doc_id, component FROM comp"),

    /** Corpus after near-duplicate removal: cluster representatives (min id)
      * plus all never-matched docs.
      */
    Gate("q51_drop_near_dups", (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.05)
      Dedup.dropNearDuplicates(docs, "doc_id", pairs).select(col("doc_id"))
    }, oracle =
      graft.functions.Mix61.oracleMacros + componentCtes +
        """
          |SELECT d.doc_id FROM documents d
          |WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)""".stripMargin),

    /** Line-level corpus dedup (the CCNet/RefinedWeb pass): the fixture text is
      * single-line, so the gate first re-chunks each document into 5-word lines
      * (deterministically, mirrored in the oracle), then keeps exactly one
      * corpus-wide copy of every line and reassembles the survivors.
      */
    // q54: the oracle keys keep-first on the line STRING where the engine
    // keys on its 61-bit rolling hash — identical absent hash collisions,
    // which the fixture (and any real corpus at these cardinalities) lacks.
    Gate("q54_line_dedup", (spark, dir) => {
      val words = split(col("text"), " ")
      val nChunks = ceil(size(words).cast("double") / 5).cast("int")
      val mtext = concat_ws("\n", transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(words, i * 5 + 1, lit(5)))))
      val prepared = tbl(spark, dir, "documents").select(col("doc_id"), mtext.as("text"))
      Dedup.lineDedup(prepared, "doc_id", "text")
    }, oracle =
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |mt AS (SELECT doc_id, array_to_string(list_transform(
        |    range(0, CAST(ceil(len(w) / 5.0) AS INT)),
        |    i -> array_to_string(w[CAST(i*5+1 AS INT) : CAST(i*5+5 AS INT)], ' ')), chr(10)) AS mtext
        |  FROM w),
        |lines AS (SELECT doc_id, generate_subscripts(l, 1) AS pos, UNNEST(l) AS line
        |  FROM (SELECT doc_id, string_split(mtext, chr(10)) AS l FROM mt)),
        |kept AS (SELECT doc_id, pos, line,
        |  ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM lines),
        |reb AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS text_dedup
        |  FROM kept WHERE rn = 1 GROUP BY doc_id)
        |SELECT m.doc_id, CAST(len(string_split(mtext, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
        |  COALESCE(text_dedup, '') AS text_dedup
        |FROM mt m LEFT JOIN reb USING (doc_id)""".stripMargin),

    Gate("q17_knn", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    }, oracle =
      """WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    UNNEST(embedding) AS v FROM embeddings),
        |fq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    UNNEST(embedding) AS v FROM embeddings WHERE vec_id < 8),
        |dots AS (SELECT fq.vec_id AS query_id, flat.vec_id AS neighbor_id,
        |    SUM(CAST(fq.v AS DOUBLE) * flat.v) AS dot,
        |    SQRT(SUM(CAST(fq.v AS DOUBLE) * fq.v)) * SQRT(SUM(CAST(flat.v AS DOUBLE) * flat.v)) AS nrm
        |  FROM fq JOIN flat ON fq.i = flat.i WHERE fq.vec_id <> flat.vec_id GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, dot/nrm AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot/nrm DESC, neighbor_id) AS rank
        |  FROM dots)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 5""".stripMargin),

    Gate("q24_ann_lsh", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 32), "vec_id", "embedding",
        k = 5, numBits = 4)
    }, oracle =
      graft.functions.Mix61.oracleMacros +
        s"""WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
          |    UNNEST(embedding) AS v FROM embeddings),
          |sig AS (SELECT vec_id, ${sigSelect(4)} AS s FROM flat GROUP BY vec_id),
          |pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
          |          FROM sig q JOIN sig c ON q.s = c.s AND c.vec_id <> q.vec_id
          |          WHERE q.vec_id < 32),
          |dots AS (SELECT p.query_id, p.neighbor_id,
          |    SUM(CAST(a.v AS DOUBLE) * b.v) AS dot,
          |    SQRT(SUM(CAST(a.v AS DOUBLE) * a.v)) * SQRT(SUM(CAST(b.v AS DOUBLE) * b.v)) AS nrm
          |  FROM pairs p
          |  JOIN flat a ON a.vec_id = p.query_id
          |  JOIN flat b ON b.vec_id = p.neighbor_id AND b.i = a.i
          |  GROUP BY 1, 2),
          |rk AS (SELECT query_id, neighbor_id, dot/nrm AS cos,
          |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot/nrm DESC, neighbor_id) AS rank
          |  FROM dots)
          |SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
          |FROM rk WHERE rank <= 5""".stripMargin),

    /** Embedding-cosine near-duplicate pairs via sign-LSH buckets. */
    Gate("q32_cosine_neardup", (spark, dir) =>
      Similarity.cosineNearDup(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        numBits = 4, threshold = 0.2),
      oracle =
        graft.functions.Mix61.oracleMacros +
          s"""WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
            |    UNNEST(embedding) AS v FROM embeddings),
            |sig AS (SELECT vec_id, ${sigSelect(4)} AS s FROM flat GROUP BY vec_id),
            |pairs AS (SELECT x.vec_id AS id1, y.vec_id AS id2
            |          FROM sig x JOIN sig y ON x.s = y.s AND x.vec_id < y.vec_id),
            |dots AS (SELECT p.id1, p.id2,
            |    SUM(CAST(a.v AS DOUBLE) * b.v) AS dot,
            |    SQRT(SUM(CAST(a.v AS DOUBLE) * a.v)) * SQRT(SUM(CAST(b.v AS DOUBLE) * b.v)) AS nrm
            |  FROM pairs p
            |  JOIN flat a ON a.vec_id = p.id1
            |  JOIN flat b ON b.vec_id = p.id2 AND b.i = a.i
            |  GROUP BY 1, 2)
            |SELECT id1, id2, round(dot/nrm, 4) AS cos FROM dots WHERE dot/nrm >= 0.2""".stripMargin),

    /** IVF-bucketed ANN: deterministic coarse quantizer, 2-of-8 cell probes. */
    Gate("q39_ann_ivf", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 32), "vec_id", "embedding",
        k = 5, nCentroids = 8, nProbe = 2)
    }, oracle =
      """WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    UNNEST(embedding) AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT 8),
        |cflat AS (SELECT c.cid, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.cid),
        |cc AS (SELECT f.vec_id, c.cid,
        |    SUM(CAST(f.v AS DOUBLE) * c.v)
        |      / (SQRT(SUM(CAST(f.v AS DOUBLE) * f.v)) * SQRT(SUM(CAST(c.v AS DOUBLE) * c.v))) AS sim
        |  FROM flat f JOIN cflat c ON c.i = f.i GROUP BY 1, 2),
        |ranked AS (SELECT vec_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM cc),
        |ccell AS (SELECT vec_id AS neighbor_id, cid FROM ranked WHERE rn = 1),
        |qcell AS (SELECT vec_id AS query_id, cid FROM ranked WHERE rn <= 2 AND vec_id < 32),
        |pairs AS (SELECT q.query_id, c.neighbor_id FROM qcell q JOIN ccell c USING (cid)
        |          WHERE c.neighbor_id <> q.query_id),
        |dots AS (SELECT p.query_id, p.neighbor_id,
        |    SUM(CAST(a.v AS DOUBLE) * b.v) AS dot,
        |    SQRT(SUM(CAST(a.v AS DOUBLE) * a.v)) * SQRT(SUM(CAST(b.v AS DOUBLE) * b.v)) AS nrm
        |  FROM pairs p
        |  JOIN flat a ON a.vec_id = p.query_id
        |  JOIN flat b ON b.vec_id = p.neighbor_id AND b.i = a.i
        |  GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, dot/nrm AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot/nrm DESC, neighbor_id) AS rank
        |  FROM dots)
        |SELECT query_id, neighbor_id, round(cos, 4) AS cos, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 5""".stripMargin),

    /** Product-quantization encode: 64-dim float vectors → 4 codes (16
      * centroids per subspace, deterministic lowest-id seeding). Codes digest
      * to a string for the gate (no array outputs).
      */
    // q58/q59: PQ assignment replayed relationally — centroid j of subspace
    // s is the (j+1)-lowest-id vector's dims [s*16, (s+1)*16); double
    // widening before subtraction matches the engine exactly, sum-order ulps
    // are absorbed by round-before-rank (q59) / well-separated argmins (q58)
    Gate("q58_pq_encode", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      Similarity.pqEncode(emb, "vec_id", "embedding", cb)
        .select(col("vec_id"), concat_ws(",", col("codes")).as("codes_str"))
    }, oracle =
      """WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    UNNEST(embedding) AS v FROM embeddings),
        |cents AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cnum
        |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cflat AS (SELECT c.cnum, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.vec_id),
        |d AS (SELECT f.vec_id, CAST((f.i - 1) // 16 AS INT) AS s, c.cnum,
        |        SUM((CAST(f.v AS DOUBLE) - c.v) * (CAST(f.v AS DOUBLE) - c.v)) AS dd
        |      FROM flat f JOIN cflat c ON c.i = f.i
        |      GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, cnum AS code,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, cnum) AS rn FROM d)
        |SELECT vec_id, array_to_string(list(code ORDER BY s), ',') AS codes_str
        |FROM codes WHERE rn = 1 GROUP BY vec_id""".stripMargin),

    /** PQ asymmetric-distance top-5 for the first 32 vectors as queries. */
    Gate("q59_pq_adc", (spark, dir) => {
      val emb = tbl(spark, dir, "embeddings")
      val cb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, k = 16)
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 32), "vec_id", "embedding",
        k = 5, codebooks = cb)
    }, oracle =
      """WITH flat AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |    UNNEST(embedding) AS v FROM embeddings),
        |cents AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cnum
        |          FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
        |cflat AS (SELECT c.cnum, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.vec_id),
        |d AS (SELECT f.vec_id, CAST((f.i - 1) // 16 AS INT) AS s, c.cnum,
        |        SUM((CAST(f.v AS DOUBLE) - c.v) * (CAST(f.v AS DOUBLE) - c.v)) AS dd
        |      FROM flat f JOIN cflat c ON c.i = f.i
        |      GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, s, cnum AS code,
        |        ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dd, cnum) AS rn FROM d),
        |qd AS (SELECT qf.vec_id AS query_id, cd.vec_id AS neighbor_id,
        |        SUM((CAST(qf.v AS DOUBLE) - cf.v) * (CAST(qf.v AS DOUBLE) - cf.v)) AS dd
        |      FROM flat qf
        |      JOIN cflat cf ON cf.i = qf.i
        |      JOIN codes cd ON cd.rn = 1 AND cd.s = CAST((qf.i - 1) // 16 AS INT)
        |        AND cd.code = cf.cnum
        |      WHERE qf.vec_id < 32 AND cd.vec_id <> qf.vec_id
        |      GROUP BY 1, 2),
        |rk AS (SELECT query_id, neighbor_id, round(dd, 4) AS dist,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY round(dd, 4), neighbor_id) AS rank FROM qd)
        |SELECT query_id, neighbor_id, dist, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 5""".stripMargin),

    /** SemDeDup within-cell near-duplicate pairs (Abbas et al. 2023): IVF
      * cell assignment bounds the search, exact cosine verifies — the
      * embedding-space counterpart of q32's sign-LSH bucketing.
      */
    Gate("q79_semdedup_pairs", (spark, dir) =>
      Similarity.semDedupPairs(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 8, threshold = 0.2),
      oracle = s"WITH $semdedupCtes\nSELECT id1, id2, cell, round(cos, 4) AS cos FROM thr"),

    /** SemDeDup survivor set: one representative per semantic-duplicate
      * component (oracle recomputes the closure with a recursive CTE).
      */
    Gate("q80_semdedup", (spark, dir) =>
      Similarity.semDedup(tbl(spark, dir, "embeddings"), "vec_id", "embedding",
        nCentroids = 8, threshold = 0.2)
        .select(col("vec_id")),
      oracle =
        s"""WITH RECURSIVE $semdedupCtes,
          |e2 AS (SELECT id1 AS a, id2 AS b FROM thr UNION SELECT id2, id1 FROM thr),
          |r AS (SELECT a, b FROM e2 UNION SELECT r.a, e.b FROM r JOIN e2 e ON r.b = e.a),
          |comp AS (SELECT a AS vec_id, least(a, min(b)) AS component FROM r GROUP BY a)
          |SELECT e.vec_id FROM embeddings e
          |WHERE e.vec_id NOT IN (SELECT vec_id FROM comp WHERE vec_id <> component)""".stripMargin))

  // -- text statistics / quality ---------------------------------------------

  /* Tokenization note: operators split text on `\s+`; several text-stat
   * oracles in this section replay that as DuckDB
   * `string_split(text, ' ')` (plus single-space arithmetic identities like
   * mean word length from `length - words + 1`), which agrees because the
   * driver-generated documents fixture is single-spaced with no
   * tabs/newlines in `text` (TESTDATA.md). Oracles where whitespace handling is load-bearing
   * (shingling: q14/q40/q44/q63; budgets: q66; DSIR: q69) use
   * `regexp_split_to_array(text, '\s+')` and hold for any whitespace.
   */

  private val textGates: Seq[Gate] = Seq(
    Gate("q15_text_stats", (spark, dir) => {
      val d = tbl(spark, dir, "documents")
      d.select(
        col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_words"),
        TextStats.stopwordRatio(col("text")).as("stop_ratio"),
        TextStats.meanWordLen(col("text")).as("mean_word_len"),
        TextStats.qualityScore(col("text")).as("quality"))
    }, oracle =
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  round(CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS stop_ratio,
        |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS mean_word_len,
        |  round(
        |    CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
        |    + CASE WHEN round(CAST(len(list_filter(string_split(lower(text), ' '),
        |        x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) >= 0.01 THEN 0.3 ELSE 0.0 END
        |    + 0.3, 6) AS quality
        |FROM documents""".stripMargin),

    /** Custom codegen Expression: rolling-hash fingerprint. */
    Gate("q16_fingerprint", (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fingerprint")),
      oracle =
        """SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
          |  list_transform(range(1, n_chars + 1),
          |    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
          |  (h, c) -> (h * 31 + c) % 2305843009213693951) AS BIGINT) AS fingerprint
          |FROM documents""".stripMargin),

    Gate("q25_lang_id", (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), TextStats.langId(col("text")).as("lang_guess")),
      oracle =
        """WITH w AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS ws FROM documents),
          |s AS (SELECT doc_id, lang,
          |  len(list_filter(ws, x -> x IN ('the','and','of','to','is','in','that','it','for','with')))
          |    / CAST(len(ws) AS DOUBLE) AS en,
          |  len(list_filter(ws, x -> x IN ('el','la','de','que','y','en','los','del','se','las')))
          |    / CAST(len(ws) AS DOUBLE) AS es,
          |  len(list_filter(ws, x -> x IN ('le','la','de','et','les','des','est','un','une','dans')))
          |    / CAST(len(ws) AS DOUBLE) AS fr,
          |  len(list_filter(ws, x -> x IN ('der','die','und','das','ist','von','den','mit','für','auf')))
          |    / CAST(len(ws) AS DOUBLE) AS de
          |  FROM w)
          |SELECT doc_id, lang,
          |  CASE WHEN greatest(en, es, fr, de) <= 0 THEN 'und'
          |       WHEN fr >= es AND fr >= en AND fr >= de THEN 'fr'
          |       WHEN es >= en AND es >= de THEN 'es'
          |       WHEN en >= de THEN 'en'
          |       ELSE 'de' END AS lang_guess
          |FROM s""".stripMargin),

    /** Punctuation-ratio quality signal (oracled per char counts). */
    Gate("q33_punct_ratio", (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), TextStats.punctRatio(col("text")).as("punct_ratio")),
      oracle =
        """SELECT doc_id,
          |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
          |    / CAST(length(text) AS DOUBLE), 6) AS punct_ratio
          |FROM documents""".stripMargin),

    /** BPE-ish subword token estimate (GPT-2-style pretokenizer regex). */
    Gate("q34_bpe_tokens", (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), TextStats.bpeTokenEstimate(col("text")).as("n_bpe")),
      oracle =
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe
          |FROM documents""".stripMargin),

    /** Intra-document n-gram repetition ratio (Gopher-style quality filter). */
    Gate("q45_repetition", (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("doc_id"), TextStats.repetitionRatio(col("text"), 3).as("rep_ratio")),
      oracle =
        """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, len(ws) AS nw,
          |  list_transform(range(1, len(ws) - 1),
          |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS gs FROM w)
          |SELECT doc_id, CASE WHEN nw < 3 THEN 0.0
          |  ELSE round((len(gs) - len(list_distinct(gs))) / CAST(len(gs) AS DOUBLE), 6)
          |  END AS rep_ratio
          |FROM g""".stripMargin),

    /** PII redaction over documents with synthetic injected PII (the fixture
      * text has none — emails/IPs/long numbers are derived from doc_id so the
      * masking is observable and exactly oracle-checked).
      */
    Gate("q53_redact_pii", (spark, dir) =>
      tbl(spark, dir, "documents").select(
        col("doc_id"),
        TextStats.redactPii(concat(
          substring(col("text"), 1, 40),
          lit(" mail user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.1.2."), (col("doc_id") % 256).cast("string"),
          lit(" acct "), (col("doc_id") * 9973 + 1000000).cast("string"))).as("redacted")),
      oracle =
        """SELECT doc_id,
          |  regexp_replace(regexp_replace(regexp_replace(
          |    substr(text, 1, 40) || ' mail user' || CAST(doc_id AS VARCHAR)
          |      || '@example.com ip 10.1.2.' || CAST(doc_id % 256 AS VARCHAR)
          |      || ' acct ' || CAST(doc_id * 9973 + 1000000 AS VARCHAR),
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          |    '\b\d{7,}\b', '<NUM>', 'g') AS redacted
          |FROM documents""".stripMargin),

    /** Gopher-style rule filter: per-rule 0/1 indicators + conjunction, all
      * inside the scan stage's codegen. Thresholds chosen to split the fixture
      * (word count 10–99, unique ratio 0.28–1.0, stopword ratio 0–0.22).
      */
    Gate("q55_gopher_filter", (spark, dir) => {
      val rules = TextStats.gopherRules(col("text"),
        minWords = 20, maxWords = 100000,
        minMeanWordLen = 3.0, maxMeanWordLen = 4.6,
        minUniqueRatio = 0.45, minStopwordRatio = 0.05, maxPunctRatio = 0.2)
      tbl(spark, dir, "documents").select(
        col("doc_id") +: rules.map { case (name, c) => c.as(name) }: _*)
    }, oracle =
      """WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
        |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS mwl,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS uniq,
        |  round(CAST(len(list_filter(string_split(lower(text), ' '),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS stop,
        |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    / CAST(length(text) AS DOUBLE), 6) AS punct
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN nw BETWEEN 20 AND 100000 THEN 1 ELSE 0 END AS words_ok,
        |  CASE WHEN mwl BETWEEN 3.0 AND 4.6 THEN 1 ELSE 0 END AS mean_len_ok,
        |  CASE WHEN uniq >= 0.45 THEN 1 ELSE 0 END AS unique_ok,
        |  CASE WHEN stop >= 0.05 THEN 1 ELSE 0 END AS stop_ok,
        |  CASE WHEN punct <= 0.2 THEN 1 ELSE 0 END AS punct_ok,
        |  (CASE WHEN nw BETWEEN 20 AND 100000 THEN 1 ELSE 0 END)
        |    * (CASE WHEN mwl BETWEEN 3.0 AND 4.6 THEN 1 ELSE 0 END)
        |    * (CASE WHEN uniq >= 0.45 THEN 1 ELSE 0 END)
        |    * (CASE WHEN stop >= 0.05 THEN 1 ELSE 0 END)
        |    * (CASE WHEN punct <= 0.2 THEN 1 ELSE 0 END) AS pass
        |FROM s""".stripMargin),

    /** Corpus-statistics keyword extraction: top-5 TF-IDF terms per document
      * (broadcast df join, no driver collect).
      */
    Gate("q56_tfidf_terms", (spark, dir) =>
      TextStats.tfIdfTopTerms(tbl(spark, dir, "documents"), "doc_id", "text", k = 5),
      oracle =
        """WITH terms AS (SELECT doc_id, UNNEST(list_filter(
          |    string_split(lower(trim(text)), ' '), x -> x <> '')) AS term FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
          |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |s AS (SELECT doc_id, term, tf, df,
          |  round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
          |  FROM tf JOIN dfr USING (term) CROSS JOIN n),
          |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          |  ORDER BY tfidf DESC, term ASC) AS rank FROM s)
          |SELECT doc_id, term, tf, df, tfidf, rank FROM r WHERE rank <= 5""".stripMargin),

    /** Per-source corpus summary with EXACT interpolated percentiles (the
      * approx=true t-digest variant is the 100 TB path; exact here so DuckDB
      * quantile_cont can oracle the numbers).
      */
    Gate("q57_corpus_stats", (spark, dir) =>
      TextStats.corpusStats(tbl(spark, dir, "documents"), "source", "text", "n_chars"),
      oracle =
        """SELECT source, count(*) AS n_docs,
          |  round(avg(n_chars), 6) AS avg_chars,
          |  round(quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.5), 6) AS med_tokens,
          |  round(quantile_cont(CAST(len(string_split(text, ' ')) AS DOUBLE), 0.95), 6) AS p95_tokens
          |FROM documents GROUP BY source""".stripMargin),

    /** CCNet-style LM perplexity quality score: hashed-bigram add-one LM
      * trained on the src0 slice, every other document scored by average
      * negative log-likelihood per bigram (integer micro-nat aggregation —
      * exact cross-engine, like q69's DSIR weights).
      */
    Gate("q81_lm_perplexity", (spark, dir) =>
      TextStats.lmPerplexity(tbl(spark, dir, "documents"), "doc_id", "text",
        isRef = col("source") === "src0", buckets = 64, seed = 11L),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """WITH words AS (SELECT doc_id, source = 'src0' AS r,
            |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
            |  FROM documents),
            |bk AS (SELECT doc_id, r,
            |    list_transform(ws, w -> mix61(rh61(w), 11) % 64) AS bs FROM words),
            |pairs AS (SELECT doc_id, r, bs[CAST(i AS INT)] AS b1,
            |    bs[CAST(i + 1 AS INT)] AS b2
            |  FROM bk, UNNEST(range(1, len(bs))) u(i)),
            |pd AS (SELECT doc_id, b1, b2, count(*) AS c, max(r) AS r
            |  FROM pairs GROUP BY 1, 2, 3),
            |mp AS (SELECT b1, b2, sum(c) AS cp FROM pd WHERE r GROUP BY 1, 2),
            |mc AS (SELECT b1, sum(cp) AS cc FROM mp GROUP BY 1),
            |sc AS (SELECT doc_id, c,
            |    CAST(round(-ln(CAST(coalesce(cp, 0) + 1 AS DOUBLE)
            |      / (coalesce(cc, 0) + 64)) * 1e6) AS BIGINT) AS nll
            |  FROM pd LEFT JOIN mp USING (b1, b2) LEFT JOIN mc USING (b1))
            |SELECT doc_id, CAST(sum(c * nll) AS DOUBLE) / 1e6 / sum(c) AS lm_nll
            |FROM sc GROUP BY 1""".stripMargin)))

  // -- token sequences -------------------------------------------------------

  /** Derived deterministic token arrays from document text (ascii codes of
    * the first 64 chars) — the fixture pattern of q18, reused by the
    * token-pipeline queries.
    */
  private def derivedTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    docs.select(
      col("doc_id"), col("lang"),
      least(col("n_chars"), lit(64)).cast("int").as("n_tok"),
      transform(
        sequence(lit(1), least(col("n_chars"), lit(64)).cast("int")),
        i => ascii(col("text").substr(i, lit(1)))).as("tokens"))
  }

  /** q18/q43-style char-token derivation, shared by the q60–q62 oracles. */
  private val derivedToksCte: String =
    """toks AS (SELECT doc_id, list_transform(range(1, CAST(least(n_chars, 64) AS INT) + 1),
      |    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS t FROM documents)""".stripMargin

  /** All 16-token span occurrences with their portable rolling-hash id —
    * mirrors Dedup.duplicatedSpans span identity (rh61 over the space-joined
    * decimal token rendering; pos is 0-based).
    */
  private val spanCte: String =
    """sp AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
      |    rh61(array_to_string(t[CAST(i AS INT):CAST(i + 15 AS INT)], ' ')) AS span_h
      |  FROM toks, UNNEST(range(1, len(t) - 14)) u(i) WHERE len(t) >= 16),""".stripMargin

  private val tokensGates: Seq[Gate] = Seq(
    /** Greedy sequence packing (LLM pretraining pack-to-context-length):
      * per-lang groups, 256-token packs, TWO-LEVEL sub-sharded so no single
      * task ever sorts a whole language (shard = doc_id % 16 — mirrored
      * exactly in the DuckDB oracle; layout order is (shard, doc_id)).
      */
    Gate("q37_pack_sequences", (spark, dir) =>
      Tokens.packGreedy(derivedTokens(spark, dir), Seq("lang"), "doc_id",
        "tokens", "n_tok", seqLen = 256,
        subShards = 16, shardExpr = Some(pmod(col("doc_id"), lit(16))))
        .select(col("lang"), col("pack_id"), col("n_docs"), col("n_tok"),
          arrayDigest(col("packed")).as("packed_str")),
      oracle =
        """WITH toks AS (SELECT doc_id, lang, doc_id % 16 AS shard,
          |    CAST(least(n_chars, 64) AS INT) AS n,
          |    list_transform(range(1, CAST(least(n_chars, 64) AS INT) + 1),
          |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS t
          |  FROM documents),
          |c AS (SELECT *, SUM(n) OVER (PARTITION BY lang, shard ORDER BY doc_id
          |        ROWS UNBOUNDED PRECEDING) - n AS w_start FROM toks),
          |tot AS (SELECT lang, shard, SUM(n) AS tot FROM toks GROUP BY 1, 2),
          |off AS (SELECT lang, shard, SUM(tot) OVER (PARTITION BY lang ORDER BY shard
          |        ROWS UNBOUNDED PRECEDING) - tot AS off FROM tot),
          |p AS (SELECT c.lang, c.shard, c.doc_id, c.n, c.t, c.w_start + off.off AS cum_start
          |      FROM c JOIN off USING (lang, shard))
          |SELECT lang, CAST(floor(cum_start / 256) AS BIGINT) AS pack_id,
          |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tok,
          |  array_to_string(flatten(list(t ORDER BY shard, doc_id)), ',') AS packed_str
          |FROM p GROUP BY 1, 2""".stripMargin),

    /** Token n-gram corpus statistics: trigram counts >= 5. */
    Gate("q38_token_ngrams", (spark, dir) =>
      Tokens.ngrams(derivedTokens(spark, dir), "tokens", n = 3)
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 5)
        .select(element_at(col("gram"), 1).as("t1"),
          element_at(col("gram"), 2).as("t2"),
          element_at(col("gram"), 3).as("t3"), col("cnt")),
      oracle =
        """WITH toks AS (SELECT list_transform(range(1, CAST(least(n_chars, 64) AS INT) + 1),
          |    i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS t
          |  FROM documents),
          |tri AS (SELECT t[CAST(i AS INT)] AS t1, t[CAST(i AS INT)+1] AS t2, t[CAST(i AS INT)+2] AS t3
          |  FROM toks, UNNEST(range(1, len(t) - 1)) u(i) WHERE len(t) >= 3)
          |SELECT t1, t2, t3, count(*) AS cnt FROM tri GROUP BY 1, 2, 3 HAVING count(*) >= 5""".stripMargin),

    /** Fixed-width tensorization: truncate to 48 tokens, right-pad with 0. */
    Gate("q43_truncate_pad", (spark, dir) =>
      derivedTokens(spark, dir).select(col("doc_id"),
        arrayDigest(Tokens.truncatePad(col("tokens"), 48, 0)).as("padded_str")),
      oracle =
        """WITH toks AS (SELECT doc_id,
          |    list_transform(range(1, CAST(least(n_chars, 64) AS INT) + 1),
          |      i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS INT)) AS t
          |  FROM documents)
          |SELECT doc_id, array_to_string(
          |  list_concat(t[1:48],
          |    list_transform(range(1, 48 - least(len(t), 48) + 1), x -> 0)), ',') AS padded_str
          |FROM toks""".stripMargin),

    /** Exact duplicated-span detection (the fixed-length core of suffix-array
      * exact-substring dedup, Lee et al. 2022): every 16-token span occurring
      * at least twice corpus-wide, one row per occurrence, keyed by the
      * portable rolling-hash span id the DuckDB oracle replays via rh61.
      */
    Gate("q60_dup_spans", (spark, dir) =>
      Dedup.duplicatedSpans(derivedTokens(spark, dir), "doc_id", "tokens",
        n = 16, minCount = 2),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          s"""WITH $derivedToksCte,
            |$spanCte
            |dup AS (SELECT span_h, count(*) AS n_occ FROM sp GROUP BY 1 HAVING count(*) >= 2)
            |SELECT doc_id, pos, span_h, n_occ FROM sp JOIN dup USING (span_h)""".stripMargin)),

    /** Apply step for q60: every token covered by a duplicated 16-span is
      * masked to -1 (cut-don't-drop); digest the masked array for the gate.
      */
    Gate("q61_mask_spans", (spark, dir) =>
      Dedup.maskDuplicatedSpans(derivedTokens(spark, dir), "doc_id", "tokens",
        n = 16, minCount = 2, maskToken = -1)
        .select(col("doc_id"), col("n_tok"), col("n_masked"),
          arrayDigest(col("tokens_masked")).as("masked_str")),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          s"""WITH $derivedToksCte,
            |$spanCte
            |dup AS (SELECT span_h FROM sp GROUP BY 1 HAVING count(*) >= 2),
            |cov AS (SELECT DISTINCT sp.doc_id, sp.pos + CAST(j AS INT) AS p
            |  FROM sp JOIN dup USING (span_h)
            |  CROSS JOIN UNNEST(range(1, 17)) v(j)),
            |px AS (SELECT doc_id, CAST(i AS INT) AS p, t[CAST(i AS INT)] AS tok
            |  FROM toks, UNNEST(range(1, len(t) + 1)) u(i)),
            |m AS (SELECT px.doc_id, px.p,
            |    CASE WHEN cov.p IS NOT NULL THEN -1 ELSE px.tok END AS tok,
            |    CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END AS msk
            |  FROM px LEFT JOIN cov ON px.doc_id = cov.doc_id AND px.p = cov.p)
            |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
            |  CAST(sum(msk) AS BIGINT) AS n_masked,
            |  string_agg(CAST(tok AS VARCHAR), ',' ORDER BY p) AS masked_str
            |FROM m GROUP BY doc_id""".stripMargin)),

    /** Overlapping fixed-length context windows (chunking for unpacked
      * training examples): 32-token chunks at stride 24, tails under 8 tokens
      * dropped.
      */
    Gate("q62_chunk_windows", (spark, dir) =>
      Tokens.chunkWindows(derivedTokens(spark, dir), "doc_id", "tokens",
        len = 32, stride = 24, minLen = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_chunk_tok"),
          arrayDigest(col("chunk")).as("chunk_str")),
      oracle =
        s"""WITH $derivedToksCte,
          |ch AS (SELECT doc_id, CAST(c AS INT) AS chunk_id,
          |    t[CAST(c * 24 + 1 AS INT):CAST(c * 24 + 32 AS INT)] AS chunk
          |  FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 24.0) AS BIGINT))) u(c)
          |  WHERE len(t) >= 1)
          |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_chunk_tok,
          |  array_to_string(chunk, ',') AS chunk_str
          |FROM ch WHERE len(chunk) >= 8""".stripMargin),

    /** Deterministic shuffle + length-bucketed batching (the pre-training
      * batch-assembly step): mix61 order keys, 16-token length buckets,
      * batches of 8, two-level numbering over 4 sub-shards — all mirrored
      * exactly in the DuckDB oracle.
      */
    Gate("q64_shuffle_batches", (spark, dir) =>
      Tokens.shuffleBatches(derivedTokens(spark, dir), "doc_id", "n_tok",
        bucketWidth = 16, batchSize = 8, seed = 42L, subShards = 4),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """WITH d AS (SELECT doc_id, CAST(least(n_chars, 64) AS INT) AS n_tok FROM documents),
            |k AS (SELECT doc_id,
            |    CAST(floor((greatest(n_tok, 1) - 1) / 16.0) AS INT) AS bucket,
            |    mix61(doc_id, 42) AS ord FROM d),
            |s AS (SELECT *, CAST(ord % 4 AS INT) AS shard FROM k),
            |rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket, shard ORDER BY ord, doc_id) - 1 AS rnum FROM s),
            |o AS (SELECT bucket, shard, count(*) AS cnt FROM s GROUP BY 1, 2),
            |o2 AS (SELECT bucket, shard, SUM(cnt) OVER (PARTITION BY bucket ORDER BY shard) - cnt AS off FROM o),
            |p AS (SELECT rn.doc_id, rn.bucket, rn.rnum + o2.off AS pos
            |      FROM rn JOIN o2 USING (bucket, shard))
            |SELECT doc_id, bucket, CAST(floor(pos / 8.0) AS BIGINT) AS batch_id,
            |  CAST(pos % 8 AS INT) AS pos_in_batch FROM p""".stripMargin)))

  // -- sampling / curation ---------------------------------------------------

  private val samplingGates: Seq[Gate] = Seq(
    /** Deterministic train/val/test hash split (portable mix61 buckets —
      * reproducible across engines and stable under repartitioning, unlike
      * randomSplit).
      */
    Gate("q48_hash_split", (spark, dir) =>
      Sampling.hashSplit(tbl(spark, dir, "documents"), "doc_id", seed = 42L,
        splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split")),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """SELECT doc_id,
            |  CASE WHEN mix61(doc_id, 42) % 1000000 < 800000 THEN 'train'
            |       WHEN mix61(doc_id, 42) % 1000000 < 900000 THEN 'val'
            |       ELSE 'test' END AS split
            |FROM documents""".stripMargin)),

    /** Mixture sampling: per-language keep rates (training-data mixture
      * weights, C4/Pile style), deterministic by doc id.
      */
    Gate("q49_mixture", (spark, dir) =>
      Sampling.mixture(tbl(spark, dir, "documents"), "doc_id", "lang",
        rates = Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1),
        seed = 7L, defaultRate = 0.05)
        .select(col("doc_id"), col("lang")),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """SELECT doc_id, lang FROM documents
            |WHERE mix61(doc_id, 7) % 1000000 <
            |  CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 500000
            |       WHEN 'fr' THEN 250000 WHEN 'es' THEN 100000
            |       ELSE 50000 END""".stripMargin)),

    /** Quality-based selection: top-10 docs per language by quality score
      * (ties by doc id — deterministic), the "keep the best k per source"
      * curation step.
      */
    Gate("q52_topk_quality", (spark, dir) =>
      Sampling.topKPerGroup(
        tbl(spark, dir, "documents")
          .select(col("doc_id"), col("lang"),
            round(TextStats.qualityScore(col("text")), 6).as("quality")),
        groupCol = "lang", orderCol = "quality", idCol = "doc_id", k = 10),
      oracle =
        """WITH q AS (SELECT doc_id, lang,
          |  round(
          |    CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END
          |    + CASE WHEN round(CAST(len(list_filter(string_split(lower(text), ' '),
          |        x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
          |        / len(string_split(text, ' ')), 6) >= 0.01 THEN 0.3 ELSE 0.0 END
          |    + 0.3, 6) AS quality
          |  FROM documents),
          |rk AS (SELECT doc_id, lang, quality,
          |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn FROM q)
          |SELECT doc_id, lang, quality FROM rk WHERE rn <= 10""".stripMargin),

    /** Exact stratified holdout: exactly ceil(20% × n) docs per language,
      * chosen by mix61 priority — per-stratum counts are contractual
      * (integer-exact), unlike q49's Bernoulli mixture.
      */
    Gate("q65_stratified", (spark, dir) =>
      Sampling.stratifiedExact(
        tbl(spark, dir, "documents").select(col("doc_id"), col("lang")),
        groupCol = "lang", idCol = "doc_id", ratePerMillion = 200000L, seed = 11L),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """WITH r AS (SELECT doc_id, lang,
            |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY mix61(doc_id, 11), doc_id) AS rn,
            |    count(*) OVER (PARTITION BY lang) AS n
            |  FROM documents)
            |SELECT doc_id, lang FROM r
            |WHERE rn <= (n * 200000 + 999999) // 1000000""".stripMargin)),

    /** Token-budget mixture fill: per source, keep docs in mix61 priority
      * order until 600 estimated tokens are reached (kept atomically — the
      * crossing doc is dropped).
      */
    Gate("q66_token_budget", (spark, dir) =>
      Sampling.tokenBudget(
        tbl(spark, dir, "documents")
          .select(col("doc_id"), col("source"),
            TextStats.tokenCount(col("text")).as("n_tok")),
        groupCol = "source", idCol = "doc_id", tokensCol = "n_tok",
        budget = 600L, seed = 13L),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """WITH d AS (SELECT doc_id, source,
            |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
            |      x -> x <> '')) AS BIGINT) AS n_tok
            |  FROM documents),
            |c AS (SELECT doc_id, source, n_tok,
            |    CAST(SUM(n_tok) OVER (PARTITION BY source
            |      ORDER BY mix61(doc_id, 13), doc_id) AS BIGINT) AS cum_tokens
            |  FROM d)
            |SELECT doc_id, source, n_tok, cum_tokens FROM c
            |WHERE cum_tokens <= 600""".stripMargin)),

    /** DSIR importance weights over the documents corpus: target slice is the
      * English documents, features are 64-bucket hashed word unigrams on the
      * portable mix61(rh61(word)) kernel (seed 7) — the hashed-ngram
      * importance-resampling scorer of a pretraining-data curation pipeline.
      */
    Gate("q69_dsir_weights", (spark, dir) =>
      Sampling.importanceWeights(
        tbl(spark, dir, "documents"), idCol = "doc_id", textCol = "text",
        isTarget = col("lang") === "en", buckets = 64, seed = 7L),
      oracle =
        (graft.functions.Mix61.oracleMacros +
          """WITH words AS (SELECT doc_id, lang = 'en' AS t,
            |    UNNEST(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS w
            |  FROM documents),
            |pd AS (SELECT doc_id, mix61(rh61(w), 7) % 64 AS b, count(*) AS c, max(t) AS t
            |  FROM words GROUP BY 1, 2),
            |tm AS (SELECT b, sum(c) AS tc FROM pd WHERE t GROUP BY 1),
            |rm AS (SELECT b, sum(c) AS rc FROM pd GROUP BY 1),
            |tt AS (SELECT sum(c) AS tn FROM pd WHERE t),
            |rt AS (SELECT sum(c) AS rn FROM pd),
            |ratio AS (SELECT s.range AS b,
            |    CAST(round((ln(CAST(coalesce(tc, 0) + 1 AS DOUBLE) / (tt.tn + 64))
            |        - ln(CAST(coalesce(rc, 0) + 1 AS DOUBLE) / (rt.rn + 64))) * 1e6) AS BIGINT) AS llr
            |  FROM range(64) s LEFT JOIN tm ON tm.b = s.range LEFT JOIN rm ON rm.b = s.range
            |  CROSS JOIN tt CROSS JOIN rt)
            |SELECT doc_id, CAST(sum(c * llr) AS DOUBLE) / 1e6 AS dsir_weight
            |FROM pd JOIN ratio USING (b) GROUP BY 1""".stripMargin)),

    /** End-to-end curation pipeline as ONE query — the composition story:
      * the operators above are not isolated demos, they chain. documents →
      * Gopher quality filter (q55's thresholds) → exact dedup (min doc_id
      * per text, q13) → deterministic hash split (q48's seed/rates, train
      * slice) → per-source token-budget fill (q66's budget/seed). Every
      * stage is individually gate-proven; this row proves the COMPOSITION
      * against one nested DuckDB oracle. At scale the whole chain is: one
      * scan-stage filter, one DIGEST-keyed dedup aggregate (the exchange
      * carries (xxhash64-pair, doc_id) 24-byte rows, never the corpus text —
      * [[Dedup.exactByDigest]]), a codegen'd split projection, and one
      * per-source window — two shuffles total (the dedup-ids fetch broadcasts).
      */
    Gate("q83_pipeline", (spark, dir) => {
      val docs = tbl(spark, dir, "documents")
      val rules = TextStats.gopherRules(col("text"),
        minWords = 20, maxWords = 100000,
        minMeanWordLen = 3.0, maxMeanWordLen = 4.6,
        minUniqueRatio = 0.45, minStopwordRatio = 0.05, maxPunctRatio = 0.2)
      val filtered = docs.where(rules.last._2 === 1) // "pass" conjunction
      val deduped = Dedup.exactByDigest(filtered, "text", "doc_id").select(col("doc_id"))
      val meta = filtered.select(col("doc_id"), col("source"),
        TextStats.tokenCount(col("text")).as("n_tok"))
      val train = Sampling.hashSplit(deduped.join(meta, Seq("doc_id")),
          "doc_id", seed = 42L,
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "train")
      Sampling.tokenBudget(
        train.select(col("doc_id"), col("source"), col("n_tok")),
        groupCol = "source", idCol = "doc_id", tokensCol = "n_tok",
        budget = 600L, seed = 13L)
    }, oracle =
      (graft.functions.Mix61.oracleMacros +
        """WITH s AS (SELECT doc_id,
          |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
          |  round(CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
          |    / len(string_split(text, ' ')), 6) AS mwl,
          |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          |    / len(string_split(text, ' ')), 6) AS uniq,
          |  round(CAST(len(list_filter(string_split(lower(text), ' '),
          |      x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) AS DOUBLE)
          |    / len(string_split(text, ' ')), 6) AS stop,
          |  round((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
          |    / CAST(length(text) AS DOUBLE), 6) AS punct
          |  FROM documents),
          |g AS (SELECT doc_id FROM s
          |  WHERE nw BETWEEN 20 AND 100000 AND mwl BETWEEN 3.0 AND 4.6
          |    AND uniq >= 0.45 AND stop >= 0.05 AND punct <= 0.2),
          |dd AS (SELECT min(d.doc_id) AS doc_id
          |  FROM documents d JOIN g ON g.doc_id = d.doc_id GROUP BY d.text),
          |m AS (SELECT d.doc_id, d.source,
          |    CAST(len(list_filter(regexp_split_to_array(trim(d.text), '\s+'),
          |      x -> x <> '')) AS BIGINT) AS n_tok
          |  FROM documents d JOIN dd ON dd.doc_id = d.doc_id),
          |tr AS (SELECT * FROM m WHERE mix61(doc_id, 42) % 1000000 < 800000),
          |c AS (SELECT doc_id, source, n_tok,
          |    CAST(SUM(n_tok) OVER (PARTITION BY source
          |      ORDER BY mix61(doc_id, 13), doc_id) AS BIGINT) AS cum_tokens
          |  FROM tr)
          |SELECT doc_id, source, n_tok, cum_tokens FROM c
          |WHERE cum_tokens <= 600""".stripMargin)))

  // -- streaming -------------------------------------------------------------

  /** Stage the events fixture into a landing DIRECTORY (the production
    * file-source shape) via symlink and open it as a bounded stream. The
    * fixture is a single parquet path, so Trigger.AvailableNow drains it in
    * ONE micro-batch (file source default maxFilesPerTrigger=1000) — which
    * is what makes update/append-mode emissions of the bounded stream equal
    * the batch semantics without a watermark-advancing sentinel batch.
    */
  private def stagedEventsStream(spark: SparkSession, dir: String,
      flushSentinel: Boolean = false): DataFrame = {
    val schema = tbl(spark, dir, "events").schema
    val inDir = scratchDir("graft_stream_in")
    java.nio.file.Files.createSymbolicLink(
      inDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    if (flushSentinel) {
      // one far-future row (user_id = -1, filtered by callers): drives the
      // event-time watermark past every real session/window end so APPEND
      // mode aggregations flush their state in the trailing no-data batch —
      // the bounded-stream analogue of "the topic keeps producing"
      tbl(spark, dir, "events").limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", to_timestamp(lit("2100-01-01 00:00:00"))
          .cast(schema("ts").dataType))
        .coalesce(1).write.mode("append").parquet(inDir.toString)
    }
    spark.readStream.schema(schema).parquet(inDir.toString)
      // watermarks require TIMESTAMP (LTZ); the session TZ is pinned UTC so
      // the NTZ→LTZ cast is the identity mapping the batch oracles use
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Run a bounded streaming frame to completion and return its result,
    * landed by `foreachBatch` in a scratch parquet directory: each batch
    * overwrites it in `complete` mode and appends to it in `append` mode.
    * Read back from files, the result stays off the driver (a memory sink is
    * a driver-side local table, which a downstream write ships inside its
    * tasks: a 2 MB task for q71 at sf0.01). The checkpoint goes to a scratch
    * dir, so Spark creates no temporary checkpoint location of its own.
    */
  private def runBoundedStream(spark: SparkSession, frame: DataFrame,
      sinkName: String, mode: String): DataFrame = {
    val out = scratchDir(s"graft_${sinkName}_out").toString
    val writeMode = if (mode == "complete") "overwrite" else "append"
    frame.writeStream
      .option("checkpointLocation", scratchDir(s"graft_${sinkName}_ckpt").toString)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(writeMode).parquet(out)
      }
      .start()
      .awaitTermination()
    spark.read.schema(frame.schema).parquet(out)
  }

  private val streamingGates: Seq[Gate] = Seq(
    /** Structured Streaming through the hard gate (§2.9 was spec-only): a
      * bounded FILE-SOURCE stream over the events parquet runs the
      * watermarked tumbling aggregation with Trigger.AvailableNow into a
      * memory sink (complete mode — emits all windows once the bounded input
      * drains), and the result must equal the batch SQL oracle. Proves the
      * streaming operator tree — file source, watermark, windowed state
      * store, sink — is batch-consistent, under the same DuckDB gate as the
      * batch operators. 30-minute windows so it is not a restatement of q05.
      */
    Gate("q70_stream_tumbling", (spark, dir) => {
      val agg = graft.streaming.StreamFeatures.tumbling(
        stagedEventsStream(spark, dir), "user_id", "ts", "30 minutes",
        watermarkDelay = "1 hour", valueCol = "value")
      runBoundedStream(spark, agg, "q70_sink", "complete")
        .select(col("user_id"), col("win_start"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
    }, oracle =
      """SELECT user_id, CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS win_start,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    /** §2.9 sliding windows through the hard gate (spec-only in r3): 2-hour
      * windows sliding by 30 minutes over the bounded events stream, complete
      * mode (same harness as q70), vs the cross-join batch oracle (q06 shape,
      * different geometry so it is not a restatement).
      */
    // q71-q73 oracles compute on epoch_us (exact BIGINT micros) — the
    // fixtures are microsecond-resolution and epoch() is a DOUBLE whose ULP
    // near 2024 epoch-seconds is ~0.5us, so floor()/boundary comparisons on
    // it could misround; integer micros cannot.
    Gate("q71_stream_sliding", (spark, dir) => {
      val agg = graft.streaming.StreamFeatures.sliding(
        stagedEventsStream(spark, dir), "user_id", "ts",
        width = "2 hours", slide = "30 minutes",
        watermarkDelay = "1 hour", valueCol = "value")
      runBoundedStream(spark, agg, "q71_sink", "complete")
        .select(col("user_id"), col("win_start"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"))
    }, oracle =
      """SELECT user_id,
        |  CAST((epoch_us(ts) // 1800000000 - k) * 1800 AS BIGINT) AS win_start,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) t(k) GROUP BY 1, 2""".stripMargin),

    /** §2.9 gap sessionization through the hard gate: `session_window` with a
      * 30-minute gap in APPEND mode (the only mode Spark supports for merging
      * session windows) — a far-future sentinel row pushes the watermark past
      * every real session's end, so the trailing no-data micro-batch emits
      * each session exactly once with its final extent. Session-window
      * semantics differ from the batch sessionizer (q07) on the boundary: an
      * event at exactly `prev + gap` opens a NEW session (windows are
      * [ts, ts+gap)), and the session end is `last_ts + gap` — the oracle
      * encodes exactly that, so this is a real second semantics, not a
      * restatement of q07.
      */
    Gate("q72_stream_session", (spark, dir) => {
      val agg = graft.streaming.StreamFeatures.sessionize(
        stagedEventsStream(spark, dir, flushSentinel = true),
        "user_id", "ts", gap = "30 minutes",
        watermarkDelay = "1 hour", valueCol = "value")
      runBoundedStream(spark, agg, "q72_sink", "append")
        .where(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("sum_value"), 4).as("sum_value"))
    }, oracle =
      """WITH b AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b)
        |SELECT user_id,
        |  CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS session_start,
        |  CAST(epoch_us(max(ts)) // 1000000 + 1800 AS BIGINT) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin),

    /** §2.9 stateful streaming as-of enrichment through the hard gate:
      * purchases are the feature stream, views the probe stream, unioned per
      * key through `flatMapGroupsWithState` (O(1) state/key). The bounded
      * input arrives as ONE micro-batch, where the operator's documented
      * contract is exact batch-join equivalence (inclusive <=, created-ts
      * tie-break, 4-hour TTL null-fill) — the oracle is the q08-shaped SQL.
      */
    Gate("q73_stream_asof", (spark, dir) => {
      import spark.implicits._
      val ev = stagedEventsStream(spark, dir)
        .where(col("event_type").isin("purchase", "view"))
        .select(
          col("user_id").cast("string").as("key"),
          col("ts"),
          (col("event_type") === "purchase").as("is_feature"),
          col("event_id").as("created"),
          col("value"))
        .as[graft.streaming.AsOfEvent]
      val enriched = graft.streaming.StreamFeatures
        .asOfEnrich(ev, ttlSeconds = 4L * 3600).toDF()
      runBoundedStream(spark, enriched, "q73_sink", "append")
        .select(col("key").cast("bigint").as("user_id"),
          col("probe_ts").as("ts"),
          round(col("value"), 4).as("purchase_value"))
    }, oracle =
      """WITH ent AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |feat AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT e.event_id, e.user_id, e.ts, f.value,
        |        ROW_NUMBER() OVER (PARTITION BY e.event_id
        |          ORDER BY f.f_ts DESC, f.f_id DESC) rn
        |      FROM ent e LEFT JOIN feat f ON e.user_id = f.user_id
        |        AND f.f_ts <= e.ts AND f.f_ts >= e.ts - INTERVAL 4 HOUR)
        |SELECT user_id, ts, round(value, 4) AS purchase_value
        |FROM j WHERE rn = 1""".stripMargin),

    /** §2.9 streaming exact dedup through the hard gate (the last spec-only
      * streaming op): `dropDuplicatesWithinWatermark` on (user_id, event_type)
      * over the bounded events stream. The survivor row's OTHER columns are
      * first-arrival-nondeterministic (partition order), so the gate projects
      * them away — the emitted set is exactly the distinct key set, which is
      * deterministic at any parallelism; the oracle is SELECT DISTINCT.
      * Append mode emits each key on first arrival; state for keys older than
      * the watermark is evicted (bounded state — the property that matters at
      * 100 TB).
      */
    Gate("q78_stream_dedup", (spark, dir) => {
      val s = stagedEventsStream(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val dd = graft.streaming.StreamFeatures.dedupStream(
        s, Seq("user_id", "event_type"), "ts", watermarkDelay = "1 hour")
      runBoundedStream(spark, dd, "q78_sink", "append")
        .select(col("user_id"), col("event_type"))
    }, oracle = "SELECT DISTINCT user_id, event_type FROM events"),

    /** S10 streaming materialization sink through the hard gate (the last
      * spec-only streaming wrapper): the bounded events stream runs through
      * `latestToSink`'s foreachBatch, which upserts each micro-batch into a
      * snapshot table with the one keyed upsert (q77's), under a
      * checkpoint. The read is the raw table: one row per user, no
      * read-time resolution. A (user_id, ts) tie goes to the larger
      * payload, event_id first (the stream's column order), which is the
      * oracle's `ORDER BY ts DESC, event_id DESC`: the q02 latest SQL.
      */
    Gate("q82_stream_materialize", (spark, dir) => {
      val root = scratchDir("graft_stream_mat")
      val q = graft.streaming.StreamFeatures.latestToSink(
        stagedEventsStream(spark, dir), Seq("user_id"), "ts",
        s"$root/sink", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.table.SnapshotTable(s"$root/sink").read(spark)
    }, oracle = latestEventSql))

  // -- storage / wire formats ------------------------------------------------

  /** Typed encode-input frame shared by the q74/q75 payload round-trips:
    * plaintext columns the oracle can recompute from, with the timestamp
    * pre-flattened to integer micros (the NTZ column never crosses the
    * codec boundary).
    */
  private def wireInput(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "events").select(
      col("event_id"),
      col("user_id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"),
      col("event_type").as("tag"),
      col("value"))

  /** Two OVERLAPPING event batches (click/view/signup, then
    * purchase/error) upserted in turn into a fresh snapshot table by the one
    * keyed upsert at `nBuckets` (0: derived), then read raw. The oracle is
    * latest (ts, event_id) per user over the union.
    */
  private def twoBatchUpsert(name: String, nBuckets: Int): Gate = Gate(name, (spark, dir) => {
    val table = graft.table.SnapshotTable(s"${scratchDir(s"graft_$name")}/online")
    val ev = tbl(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
    Seq(Seq("click", "view", "signup"), Seq("purchase", "error")).foreach { types =>
      Materialize.upsertLatestBucketed(table, ev.where(col("event_type").isin(types: _*)),
        Seq("user_id"), "ts", ties = Seq("event_id"), nBuckets = nBuckets)
    }
    table.read(spark)
  }, oracle =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
      |  FROM events) WHERE rn = 1""".stripMargin)

  private val storageGates: Seq[Gate] = Seq(
    /** S7+F4: date-partitioned parquet sink, then a partition-pruned read-back
      * aggregate (the write.partitionBy + read-side pruning round trip).
      */
    Gate("q27_date_sink", (spark, dir) => {
      val out = scratchDir("graft_date_q27").toString
      tbl(spark, dir, "events")
        .withColumn("date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("date").parquet(out)
      spark.read.parquet(out)
        .where(col("date").between(lit("2024-01-05"), lit("2024-01-12")))
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .select(date_format(col("date"), "yyyy-MM-dd").as("date"),
          col("n_events"), col("sum_value")) // string date: engine-neutral hashing
    }, oracle =
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-12'
        |GROUP BY 1""".stripMargin),

    /** S6/S8: CSV ingest round trip — write with sized parallelism, read back
      * with an explicit schema, aggregate per key.
      */
    Gate("q28_csv_ingest", (spark, dir) => {
      val out = scratchDir("graft_csv_q28").toString
      val li = tbl(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      li.repartition(8).write.mode("overwrite").option("header", "true").csv(out)
      spark.read.option("header", "true").schema(li.schema).csv(out)
        .groupBy(col("l_orderkey").as("order_key"))
        .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 4).as("sum_qty"))
    }, oracle =
      """SELECT l_orderkey AS order_key, count(*) AS n_lines,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY 1""".stripMargin),

    /** S6: JSON ingest round trip (reference loaders/ingest.py:123-166 reads
      * csv/json/parquet through one seam) — write line-delimited JSON with
      * sized parallelism, read back with an explicit schema (schema-on-read:
      * never infer in production — an inference pass is a second full scan),
      * aggregate per key. Completes the S6 format matrix next to q28 (CSV).
      */
    Gate("q76_json_ingest", (spark, dir) => {
      val out = scratchDir("graft_json_q76").toString
      val orders = tbl(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      orders.repartition(8).write.mode("overwrite").json(out)
      spark.read.schema(orders.schema).json(out)
        .groupBy(col("o_custkey").as("cust_key"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
    }, oracle =
      """SELECT o_custkey AS cust_key, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin),

    /** Snapshot-table layer: commit latest-per-key as snapshot 1, commit a
      * filtered overwrite as snapshot 2, then TIME-TRAVEL read snapshot 1 —
      * manifest-selected files only, so the result must equal snapshot 1.
      */
    Gate("q31_snapshot", (spark, dir) => {
      val root = scratchDir("graft_snap").toString
      val t = SnapshotTable(root)
      val latest = Materialize.latestPerKey(
        tbl(spark, dir, "events"), Seq("user_id"), "ts", ties = Seq("event_id"))
      t.commit(latest, numFiles = 4)
      t.commit(latest.where(col("user_id") % 2 === 0), numFiles = 2)
      t.read(spark, asOf = Some(1L))
    }, oracle = latestEventSql),

    /** North-rule resumability through the hard gate (not just BackfillSpec):
      * run a checkpointed backfill over the first half of the interval grid,
      * then re-run over the FULL grid against the same table, whose manifest
      * is the checkpoint — the second run must SKIP the completed intervals. A broken resume would
      * re-execute them and emit duplicate interval rows, failing the oracle's
      * fixed four-row grid. Output: per executed interval, its id, the
      * materialized row count (= distinct keys active in the interval — the
      * lineage `rows` metric) and which run executed it (1 = first half,
      * 2 = resumed remainder; both derivable from the grid by the oracle).
      * The metrics rows are driver-side scalars by design (one per interval);
      * the distributed work is inside Backfill.run.
      */
    // q68: the oracle pins the FULL four-interval grid with single-run
    // executions — a broken checkpoint resume re-executes run 1's intervals
    // in run 2 and fails on row count (6 rows vs 4).
    Gate("q68_backfill", (spark, dir) => {
      val root = scratchDir("graft_backfill").toString
      val table = SnapshotTable(s"$root/table")
      val ev = tbl(spark, dir, "events")
      def go(end: java.sql.Timestamp) =
        Backfill.run(spark, ev, Seq("user_id"), "ts", Some("event_id"),
          ts("2024-01-01T00:00:00Z"), end, stepSeconds = 7L * 24 * 3600, table = table)
      val run1 = go(ts("2024-01-15T00:00:00Z"))
      val run2 = go(ts("2024-01-29T00:00:00Z"))
      import spark.implicits._
      (run1.map(m => (m.intervalId, m.rows, 1)) ++
        run2.map(m => (m.intervalId, m.rows, 2)))
        .toDF("interval_id", "n_keys", "run_no")
    }, oracle =
      """WITH grid AS (
        |  SELECT TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(i * 7 AS INT)) AS lo,
        |         TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST((i + 1) * 7 AS INT)) AS hi
        |  FROM range(4) t(i))
        |SELECT strftime(g.lo, '%Y-%m-%dT%H:%M:%SZ') || '_' || strftime(g.hi, '%Y-%m-%dT%H:%M:%SZ') AS interval_id,
        |  count(DISTINCT e.user_id) AS n_keys,
        |  CASE WHEN g.hi <= TIMESTAMP '2024-01-15 00:00:00' THEN 1 ELSE 2 END AS run_no
        |FROM grid g LEFT JOIN events e ON e.ts >= g.lo AND e.ts < g.hi
        |GROUP BY g.lo, g.hi""".stripMargin),

    /** S10 keyed-upsert semantics of the online sink through the hard gate
      * (r3 "What's missing" #4), at the derived bucket count (one bucket:
      * the table is small). For many users the second batch's rows are
      * OLDER than already-stored rows and must LOSE the compaction (max (ts,
      * event_id) across commits, not last-writer-wins). The read is the raw
      * compacted table: exactly one row per user, no read-time resolution.
      */
    twoBatchUpsert("q77_online_upsert", nBuckets = 0),

    /** S10 at the 100 TB posture: q77's overlapping-batch upsert with 8
      * buckets, so the second batch can miss buckets — it rewrites only the
      * data files whose key buckets it touches; every other file is carried
      * into the new manifest by reference.
      */
    twoBatchUpsert("q85_upsert_bucketed", nBuckets = 8),

    /** §2.9 binary Avro decode through the hard gate (spec-only in r3): the
      * events table is ENCODED into real Avro wire payloads (GenericDatumWriter
      * on the core avro library) in one distributed pass, decoded back through
      * the same [[graft.streaming.StreamFeatures.decode]] path a Kafka stream
      * would use (StreamFormat.Avro + field mapping, reference
      * data_format.py:109-133), and the oracle recomputes every output column
      * from the plaintext table — so a decode bug anywhere (varint zigzag,
      * union null branch, array framing, UTF-8) breaks the hash. Exercises a
      * nullable union ([null,double] — null for 'error' rows), a packed int
      * array, strings, and longs.
      */
    Gate("q74_avro_roundtrip", (spark, dir) => {
      import org.apache.spark.sql.Encoders
      val schemaJson =
        """{"type":"record","name":"Ev","fields":[
          |{"name":"uid","type":"long"},
          |{"name":"ts_us","type":"long"},
          |{"name":"tag","type":"string"},
          |{"name":"v","type":["null","double"]},
          |{"name":"toks","type":{"type":"array","items":"int"}}]}""".stripMargin
      val payloads = wireInput(spark, dir).mapPartitions { it =>
        import org.apache.avro.Schema
        import org.apache.avro.generic.{GenericData, GenericDatumWriter}
        import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
        val schema = new Schema.Parser().parse(schemaJson)
        val writer = new GenericDatumWriter[GenericData.Record](schema)
        val out = new java.io.ByteArrayOutputStream()
        var enc: BinaryEncoder = null
        it.map { r =>
          out.reset()
          val eventId = r.getLong(0)
          val rec = new GenericData.Record(schema)
          rec.put("uid", r.getLong(1))
          rec.put("ts_us", r.getLong(2))
          rec.put("tag", r.getString(3))
          rec.put("v",
            if (r.getString(3) == "error") null
            else java.lang.Double.valueOf(r.getDouble(4)))
          rec.put("toks", java.util.Arrays.asList(
            Int.box((eventId % 7).toInt), Int.box((eventId % 11).toInt)))
          enc = EncoderFactory.get().binaryEncoder(out, enc)
          writer.write(rec, enc)
          enc.flush()
          out.toByteArray
        }
      }(Encoders.BINARY).toDF("value")
      val source = graft.model.StreamSource(
        topic = "events", bootstrapServers = "broker:9092",
        format = graft.model.StreamFormat.Avro(schemaJson),
        eventTimestampColumn = "ts_us",
        fieldMapping = Map("uid" -> "user_id"))
      graft.streaming.StreamFeatures.decode(payloads, source)
        .select(col("user_id"), col("ts_us"), col("tag"),
          round(col("v"), 4).as("v"),
          array_join(col("toks").cast("array<string>"), ",").as("toks_str"))
    }, oracle =
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type AS tag,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 4) END AS v,
        |  CAST(event_id % 7 AS VARCHAR) || ',' ||
        |    CAST(event_id % 11 AS VARCHAR) AS toks_str
        |FROM events""".stripMargin),

    /** §2.9 protobuf wire-format decode through the hard gate (spec-only in
      * r3): events rows are encoded into proto3 wire bytes by a 20-line
      * SparkEntry-local encoder written straight from the public encoding spec
      * (varint, zigzag sint64, packed repeated, 8-byte LE double,
      * length-delimited UTF-8 — it shares NO code with
      * [[graft.streaming.ProtoDecode]]), decoded back through the declared
      * [[graft.model.ProtoField]] descriptor, and verified column-by-column
      * against the plaintext oracle. `delta` is a NEGATIVE sint64 so the
      * zigzag path is load-bearing in the gate, not just in specs.
      */
    Gate("q75_proto_roundtrip", (spark, dir) => {
      import org.apache.spark.sql.Encoders
      import graft.model.{ProtoField, ProtoType}
      val fields = Seq(
        ProtoField(1, "uid", ProtoType.Int64),
        ProtoField(2, "ts_us", ProtoType.Int64),
        ProtoField(3, "tag", ProtoType.StringT),
        ProtoField(4, "v", ProtoType.DoubleT),
        ProtoField(5, "toks", ProtoType.RepInt32),
        ProtoField(6, "delta", ProtoType.SInt64))
      val payloads = wireInput(spark, dir).mapPartitions { it =>
        def vint(v: Long): Array[Byte] = {
          val out = scala.collection.mutable.ArrayBuffer[Byte]()
          var x = v; var more = true
          while (more) {
            val b = (x & 0x7f).toInt; x = x >>> 7; more = x != 0
            out += (if (more) (b | 0x80).toByte else b.toByte)
          }
          out.toArray
        }
        def key(n: Int, wt: Int) = vint((n.toLong << 3) | wt)
        def le64(v: Long): Array[Byte] =
          (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
        def delim(n: Int, payload: Array[Byte]): Array[Byte] =
          key(n, 2) ++ vint(payload.length.toLong) ++ payload
        def zz64(v: Long): Long = (v << 1) ^ (v >> 63)
        it.map { r =>
          val eventId = r.getLong(0)
          key(1, 0) ++ vint(r.getLong(1)) ++
            key(2, 0) ++ vint(r.getLong(2)) ++
            delim(3, r.getString(3).getBytes("UTF-8")) ++
            key(4, 1) ++ le64(java.lang.Double.doubleToLongBits(r.getDouble(4))) ++
            delim(5, vint(eventId % 7) ++ vint(eventId % 11) ++
              vint(300 + eventId % 5)) ++ // packed repeated int32
            key(6, 0) ++ vint(zz64(-(eventId % 1000))) // negative -> zigzag
        }
      }(Encoders.BINARY).toDF("value")
      val source = graft.model.StreamSource(
        topic = "events", bootstrapServers = "broker:9092",
        format = graft.model.StreamFormat.Proto("graft.Ev", fields),
        eventTimestampColumn = "ts_us",
        fieldMapping = Map("uid" -> "user_id"))
      graft.streaming.StreamFeatures.decode(payloads, source)
        .select(col("user_id"), col("ts_us"), col("tag"),
          round(col("v"), 4).as("v"),
          array_join(col("toks").cast("array<string>"), ",").as("toks_str"),
          col("delta"))
    }, oracle =
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type AS tag,
        |  round(value, 4) AS v,
        |  CAST(event_id % 7 AS VARCHAR) || ',' || CAST(event_id % 11 AS VARCHAR)
        |    || ',' || CAST(300 + event_id % 5 AS VARCHAR) AS toks_str,
        |  -(event_id % 1000) AS delta
        |FROM events""".stripMargin),

    /** Multimodal decode + featurize: real javax.imageio PNG decode for image
      * rows, stub kernel for audio/video. Gate output is scalar-only (dims +
      * rounded feature sum); the synthetic pixels/payloads are pure modular
      * arithmetic, so DuckDB recomputes the features EXACTLY (see oracle) —
      * only the PNG container bytes (n_bytes/checksum, encoder-dependent) stay
      * out of the gate, asserted in OpsSpec via decode round-trip instead.
      * The oracle mirrors float32 semantics with REAL casts (all intermediate
      * integers < 2^24 are exact in float32, and the double additions run in
      * the same left-to-right order as Spark's `aggregate`).
      */
    Gate("q26_multimodal", (spark, dir) => {
      import spark.implicits._
      Multimodal.extractFeatures(Multimodal.syntheticAssets(spark, 200)).toDF()
        .select(col("asset_id"), col("kind"),
          size(col("feature")).as("feat_dim"),
          round(aggregate(col("feature"), lit(0.0), (a, x) => a + x), 3).as("feat_sum"))
    }, oracle = {
      def gridSum(f: String): String =
        s"CAST(list_sum(flatten(list_transform(range(0, h), y -> " +
          s"list_transform(range(0, w), x -> ($f) % 256)))) AS BIGINT)"
      s"""WITH a AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 200)),
        |img AS (SELECT id, 16 + id % 16 AS w, 12 + id % 8 AS h FROM a WHERE id % 3 = 0),
        |imgs AS (SELECT id, w, h,
        |    ${gridSum("id*31 + x*7 + y*13")} AS rs,
        |    ${gridSum("id*17 + x*11 + y*3")} AS gs,
        |    ${gridSum("id*5 + x*13 + y*29")} AS bs
        |  FROM img),
        |irow AS (SELECT id AS asset_id, 'image' AS kind, 5 AS feat_dim,
        |    round(CAST(CAST(w AS REAL) AS DOUBLE) + CAST(CAST(h AS REAL) AS DOUBLE)
        |        + CAST(CAST(rs AS REAL) / CAST(w*h*255 AS REAL) AS DOUBLE)
        |        + CAST(CAST(gs AS REAL) / CAST(w*h*255 AS REAL) AS DOUBLE)
        |        + CAST(CAST(bs AS REAL) / CAST(w*h*255 AS REAL) AS DOUBLE), 3) AS feat_sum
        |  FROM imgs),
        |avrow AS (SELECT id AS asset_id,
        |    CASE WHEN id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, 8 AS feat_dim,
        |    round(CAST(list_sum(list_transform(range(0, 32 + (id*37) % 512),
        |        i -> (id*131 + i*7) % 256)) AS DOUBLE), 3) AS feat_sum
        |  FROM a WHERE id % 3 <> 0)
        |SELECT * FROM irow UNION ALL SELECT * FROM avrow""".stripMargin
    }))

  /** Every gate query, once; the driver contract below derives from it. */
  private[graft] val gates: Seq[Gate] = pitGates ++ materializeGates ++ feGates ++
    dedupGates ++ textGates ++ tokensGates ++ samplingGates ++ streamingGates ++
    storageGates

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.plan).toMap

  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
