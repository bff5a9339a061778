package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Wire rows of the streaming as-of enrichment: one unioned stream of
  * feature updates (`is_feature = true`, carrying `value`/`created`) and
  * probe rows (`is_feature = false`) per entity key. Top-level case classes
  * (Encoder requirement).
  */
final case class AsOfEvent(
    key: String,
    ts: java.sql.Timestamp,
    is_feature: Boolean,
    created: Long,
    value: Double)

/** Keyed state of [[StreamFeatures.asOfEnrich]]. STATE FORMAT v2: `ts` is
  * MICROseconds since epoch (v1, pre-release only, stored millis). The
  * field is renamed (`ts` → `ts_us`) so a v1 checkpoint fails loudly on
  * schema mismatch instead of silently misreading millis as micros; bump
  * the name again on any future unit/semantic change.
  */
final case class AsOfStateRow(ts_us: Long, created: Long, value: Double)

final case class AsOfEnriched(
    key: String,
    probe_ts: java.sql.Timestamp,
    value: Option[Double])

/** Structured Streaming counterparts of the batch feature ops. The reference
  * only *declares* stream sources (feast data_source.py:783-914 — Kafka and
  * Kinesis are registry metadata with no execution in the v0.11 snapshot);
  * here the batch semantics get a real streaming execution:
  * watermarked tumbling/sliding aggregates, gap sessionization via
  * `session_window`, keyed as-of enrichment and dedup, and a latest-value
  * sink that writes through the batch engine's one keyed upsert, so a
  * streamed table and a batch-materialized one are the same kind of
  * snapshot table. Input is any streaming DataFrame with
  * (key, event_timestamp, value) — `readStream.format("kafka")` +
  * `from_avro`/`from_json` upstream of this module in production.
  */
object StreamFeatures {

  /** Decode a raw stream with the Kafka wire shape (binary or string
    * `value` column) into typed rows per a [[graft.model.StreamSource]]
    * contract: parse with `from_json`/`from_csv` against the declared
    * schema, then apply the source's field mapping — the execution half of
    * the reference's stream-source + stream-format registry metadata
    * (data_source.py:783-914, data_format.py:69-133). Works identically on
    * a static DataFrame (tests, backfill-from-log replay) and a streaming
    * one (`readStream.format("kafka")` upstream in production).
    */
  def decode(raw: DataFrame, source: graft.model.StreamSource): DataFrame = {
    import graft.model.StreamFormat
    val payload = col("value").cast("string")
    val parsed = source.format match {
      case StreamFormat.Json(schema) =>
        raw.withColumn("__graft_p", from_json(payload, schema))
      case StreamFormat.Csv(schema) =>
        raw.withColumn("__graft_p",
          from_csv(payload, schema, Map.empty[String, String]))
      case StreamFormat.Avro(schemaJson) =>
        // real binary Avro decode on the core avro library (see AvroDecode —
        // the spark-avro connector's from_avro is not in this offline build)
        AvroDecode.decode(raw, schemaJson)
      case StreamFormat.Proto(messageClass, fields) =>
        // from-scratch wire-format decode driven by the declared descriptor
        // (see ProtoDecode); without one there is nothing to decode against
        if (fields.isEmpty)
          throw new UnsupportedOperationException(
            s"Proto decode for '$messageClass' needs a declared field " +
              "descriptor (StreamFormat.Proto(messageClass, fields)) — no " +
              "compiled-class protobuf runtime ships in this offline build")
        else ProtoDecode.decode(raw, fields)
    }
    graft.model.FieldMapping(parsed.select(col("__graft_p.*")), source.fieldMapping)
  }

  /** Watermarked tumbling counts/sums per key. Late data beyond
    * `watermarkDelay` is dropped (state is bounded — mandatory at scale).
    */
  def tumbling(
      stream: DataFrame,
      key: String,
      ts: String,
      width: String,
      watermarkDelay: String,
      valueCol: String): DataFrame =
    stream
      .withWatermark(ts, watermarkDelay)
      .groupBy(col(key), window(col(ts), width))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(
        col(key),
        unix_timestamp(col("window.start")).as("win_start"),
        col("n_events"), col("sum_value"))

  /** Sliding windows (width, slide). */
  def sliding(
      stream: DataFrame,
      key: String,
      ts: String,
      width: String,
      slide: String,
      watermarkDelay: String,
      valueCol: String): DataFrame =
    stream
      .withWatermark(ts, watermarkDelay)
      .groupBy(col(key), window(col(ts), width, slide))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(
        col(key),
        unix_timestamp(col("window.start")).as("win_start"),
        col("n_events"), col("sum_value"))

  /** Gap sessionization with `session_window` — the streaming equivalent of
    * [[graft.fe.Windows.sessionize]] (merging windows, watermark-bounded
    * state).
    */
  def sessionize(
      stream: DataFrame,
      key: String,
      ts: String,
      gap: String,
      watermarkDelay: String,
      valueCol: String): DataFrame =
    stream
      .withWatermark(ts, watermarkDelay)
      .groupBy(col(key), session_window(col(ts), gap))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select(
        col(key),
        unix_timestamp(col("session_window.start")).as("session_start"),
        unix_timestamp(col("session_window.end")).as("session_end"),
        col("n_events"), col("sum_value"))

  /** Streaming point-in-time enrichment with explicit keyed state — the
    * Structured Streaming counterpart of [[graft.pit.AsOfJoin.windowed]],
    * built on `flatMapGroupsWithState` (the custom-state tool of SURVEY
    * §2.9): per entity key, typed state holds the latest feature row seen
    * (max (event ts, created)); each probe row emits that feature's value
    * when it is at-or-before the probe timestamp and within `ttlSeconds`,
    * else None (the reference's null-fill).
    *
    * Within a micro-batch, rows are processed in (ts, feature-before-probe,
    * created) order, so equal-timestamp semantics match the batch join
    * exactly (inclusive `<=`, created-ts tie-break). ACROSS batches the
    * semantics are at-arrival: a feature that arrives in a later batch than
    * a probe it should have served cannot rewrite the already-emitted row —
    * the inherent streaming trade; the batch join remains the offline
    * truth, and feeding the same rows in one batch reproduces it exactly
    * (proven in StreamFeaturesSpec). State is O(1) per key (one feature
    * row), so no watermark-bounded state growth.
    */
  def asOfEnrich(
      events: Dataset[AsOfEvent],
      ttlSeconds: Long): Dataset[AsOfEnriched] = {
    import events.sparkSession.implicits._
    // compare at MICROsecond precision (Timestamp.getTime truncates to
    // millis; Spark timestamps and the batch join are micro-exact)
    def us(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[AsOfEvent], state: GroupState[AsOfStateRow]) =>
          val sorted = rows.toSeq.sortBy(e =>
            (us(e.ts), if (e.is_feature) 0 else 1, e.created))
          var cur = state.getOption
          val out = Seq.newBuilder[AsOfEnriched]
          sorted.foreach { e =>
            if (e.is_feature) {
              if (cur.forall(c => us(e.ts) > c.ts_us ||
                  (us(e.ts) == c.ts_us && e.created >= c.created)))
                cur = Some(AsOfStateRow(us(e.ts), e.created, e.value))
            } else {
              val hit = cur.filter(c =>
                c.ts_us <= us(e.ts) && c.ts_us >= us(e.ts) - ttlSeconds * 1000000L)
              out += AsOfEnriched(key, e.ts, hit.map(_.value))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming exact dedup on content keys within the watermark horizon —
    * `dropDuplicatesWithinWatermark`, the streaming counterpart of
    * [[graft.ops.Dedup.exact]]: the first arrival of each key set wins,
    * duplicates arriving within the watermark delay are dropped, and state
    * for keys older than the watermark is evicted (bounded state — an
    * unbounded-state streaming dedup dies at scale). Exactness holds for
    * duplicates closer together than `watermarkDelay`; farther-apart
    * duplicates are a batch job's business ([[graft.ops.Dedup.exact]]).
    */
  def dedupStream(
      stream: DataFrame,
      keyCols: Seq[String],
      ts: String,
      watermarkDelay: String): DataFrame =
    stream
      .withWatermark(ts, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming latest-per-key materialization: each micro-batch is upserted
    * into the [[graft.table.SnapshotTable]] at `sinkPath` by
    * [[graft.materialize.Materialize.upsertLatestBucketed]], the engine's one
    * keyed write and the streaming analogue of the reference's online-store
    * upsert (sqlite.py:76-128). The sink holds one row per key, each batch
    * lands as one atomic snapshot (time travel, lost-update detection, any
    * Hadoop scheme), and readers take `SnapshotTable.read` as is. A (key,
    * `ts`) tie goes to the larger orderable payload (columns in schema
    * order), so a batch replayed after a crash between its upsert and its
    * checkpoint leaves the rows unchanged, unless tied rows differ only in
    * unorderable (map) columns. The micro-batch is cached: a sink of more
    * than one bucket reads it twice. Returned writer is not started.
    */
  def latestToSink(
      stream: DataFrame,
      keys: Seq[String],
      ts: String,
      sinkPath: String,
      checkpoint: String) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ties = batch.schema.fields.toSeq.collect {
          case f if !keys.contains(f.name) && f.name != ts &&
              RowOrdering.isOrderable(f.dataType) => f.name
        }
        batch.persist()
        try graft.materialize.Materialize.upsertLatestBucketed(
          graft.table.SnapshotTable(sinkPath), batch, keys, ts, ties = ties)
        finally batch.unpersist()
        () // foreachBatch's overloads resolve only for a Unit result
      }
}
