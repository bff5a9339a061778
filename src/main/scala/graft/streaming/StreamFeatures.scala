package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  * watermarked tumbling/sliding aggregates and gap sessionization via
  * `session_window`. Input is any streaming DataFrame with
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

  /** Streaming latest-per-key materialization into an idempotent sink:
    * foreachBatch + batch latest-per-key, the streaming analogue of the
    * reference's online-store upsert (sqlite.py:76-128). Idempotence is
    * REAL, not aspirational: each micro-batch overwrites its own
    * `batch-<batchId>/` subdirectory, so a batch replayed after a
    * crash-between-write-and-checkpoint rewrites the same files instead of
    * appending duplicates (a bare `mode("append")` to one directory would
    * double the replayed rows). Readers use [[readSink]] and resolve
    * latest-per-key across batches (q82's read contract; the compacting
    * alternative is `Materialize.upsertLatest`). Returned writer is not
    * started — callers pick trigger/checkpoint.
    */
  def latestToSink(
      stream: DataFrame,
      keys: Seq[String],
      ts: String,
      sinkPath: String,
      checkpoint: String) =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.materialize.Materialize
          .latestPerKey(batch, keys, ts)
          .write.mode("overwrite").parquet(s"$sinkPath/batch-$batchId")
      }

  /** Every batch written by [[latestToSink]] into `sinkPath`, still one row
    * per key per batch. The `batch-<batchId>/` dirs are listed through the
    * sink's Hadoop `FileSystem` and read by name: plain nested dirs are not
    * partition dirs, so a bare root read finds no files, and a `batch-*`
    * glob makes Spark's sink-metadata probe log a `FileNotFoundException`
    * warning on every read.
    */
  def readSink(spark: SparkSession, sinkPath: String): DataFrame = {
    val sink = new org.apache.hadoop.fs.Path(sinkPath)
    val batches = sink.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(sink).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch-")).map(_.toString)
    spark.read.parquet(batches: _*)
  }
}
