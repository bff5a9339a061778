package graft.materialize

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.fe.Timestamps

/** Latest-value materialization: collapse a feature history to one row per
  * entity key — the reference's `pull_latest_from_table_or_query`
  * (file.py:246-265 pandas sort+drop_duplicates keep-last; bigquery.py:71-92
  * ROW_NUMBER()=1 SQL). Tie-break: greatest event ts, then greatest
  * created ts.
  */
object Materialize {

  /** One row per key: the row with max (ts, created[, ties...]).
    * Implemented as max_by(payload, struct(orderCols)) — a SortAggregate
    * (the struct buffer rules out hashing; PLANS.md q03) whose map-side
    * partials shrink each key to one row per task before the exchange.
    */
  def latestPerKey(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil): DataFrame = {
    val orderCols = (col(ts) +: (createdTs.map(col).toSeq ++ ties.map(col)))
    val payloadCols = df.columns.filterNot(keys.contains).toSeq
    val payload = struct(payloadCols.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(orderCols: _*)).as("__graft_latest"))
      .select(keys.map(col) ++ payloadCols.map(c => col(s"__graft_latest.`$c`").as(c)): _*)
  }

  /** Window-based variant (exactly the reference's SQL plan shape);
    * used as an internal cross-check for latestPerKey.
    */
  def latestPerKeyWindowed(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil): DataFrame = {
    val order = (col(ts).desc +: (createdTs.map(col(_).desc).toSeq ++ ties.map(col(_).desc)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Time-bounded pull: [startInclusive, endExclusive) on ts, then latest per
    * key — the materialization unit of work (file.py:254-257 time filter).
    * The range predicate is authored before the aggregate so Catalyst pushes
    * it into the parquet scan (min/max + partition pruning at scale).
    */
  def pullLatest(
      df: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String],
      startInclusive: java.sql.Timestamp,
      endExclusive: java.sql.Timestamp): DataFrame = {
    val bounded = df.where(col(ts) >= lit(startInclusive) && col(ts) < lit(endExclusive))
    latestPerKey(bounded, keys, ts, createdTs)
  }

  /** The engine's one keyed upsert into a snapshot table, for batch callers
    * and [[graft.streaming.StreamFeatures.latestToSink]] — the counterpart
    * of the reference online store's per-(entity_key, feature)
    * UPDATE-then-INSERT (sqlite.py:76-128). The incoming batch is merged
    * with the stored rows it can collide with, re-resolved to
    * latest-per-key and committed as ONE new snapshot: reads see one row
    * per key with no read-time resolution, the manifest publish makes each
    * upsert atomic, and time travel to pre-upsert snapshots keeps working.
    * An incoming row LOSES to a stored row with a newer (ts, tie) —
    * order-independent convergence, not last-writer-wins — so upserting
    * the same rows again leaves the table's rows unchanged.
    *
    * A row's bucket is the index of the Spark hash partition its keys go
    * to ([[graft.table.SnapshotTable.bucketOf]]), recorded per file in the
    * manifest ([[graft.table.FileStat.bucket]]): the merge ends in one hash
    * exchange into the bucket count and a plain write, so each write task
    * writes exactly its own bucket, with no sort. A batch rewrites ONLY the
    * files whose buckets it touches (Iceberg's partition-scoped overwrite);
    * untouched files are carried into the new manifest by reference, so
    * per-batch cost is O(touched buckets' rows), not O(table).
    *
    * `nBuckets` = 0 (the default) derives the count from the stored
    * snapshot's bytes ([[derivedBuckets]]); an empty table has none, so a
    * large first load names its count (one bucket ≈ one comfortable task,
    * ~100-500 MB). A legacy/compacted snapshot's unbucketed files count as
    * touched once, then every later upsert is bucket-scoped. The manifest
    * records the bucket count ([[graft.table.Snapshot.hashBuckets]]), so
    * changing `nBuckets` between batches (or a table written before the
    * buckets were hash partitions) forces one full rebucketing rewrite
    * instead of carrying files bucketed under another function. The
    * key COLUMNS must stay the same across batches (they define the hash).
    * The merge commits on top of exactly the snapshot it read: a snapshot
    * another writer publishes in between makes this upsert fail
    * (`ConcurrentModificationException`) instead of dropping its rows.
    */
  def upsertLatestBucketed(
      table: graft.table.SnapshotTable,
      batch: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil,
      nBuckets: Int = 0): graft.table.Snapshot = {
    require(nBuckets >= 0, "nBuckets >= 0")
    val spark = batch.sparkSession
    val cur = table.currentSnapshot
    val modulus = if (nBuckets > 0) nBuckets else derivedBuckets(cur)
    // the distinct buckets of each batch partition, at most `modulus` ints
    // each: one stage, no exchange; one bucket needs no job
    val touched =
      if (modulus == 1) Set(0)
      else batch.select(graft.table.SnapshotTable.bucketOf(keys, modulus)).as(Encoders.scalaInt)
        .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect().toSet
    val (reread, carry) = cur match {
      case Some(snap) =>
        // A file's bucket id only means something under the bucket count it
        // was written with: carrying a bucket-3-of-64 file past a
        // nBuckets=16 upsert would duplicate keys. On mismatch every file
        // counts as touched once (full self-healing rewrite under the new
        // count), then later upserts are bucket-scoped again.
        val sameModulus = snap.hashBuckets.contains(modulus)
        val (hit, miss) = snap.files.partition(
          f => f.bucket.isEmpty || !sameModulus || f.bucket.exists(touched.contains))
        val hitRows =
          if (hit.isEmpty) None
          else Some(spark.read.schema(batch.schema)
            .parquet(hit.map(_.path): _*))
        (hitRows, miss)
      case None => (None, Nil)
    }
    val merged = reread match {
      case Some(cur) => cur.unionByName(batch)
      case None => batch
    }
    table.commitBucketed(latestPerKey(merged, keys, ts, createdTs, ties), keys, modulus,
      carryForward = carry, parent = cur)
  }

  /** The bucket count of an upsert that names none: the smallest power of
    * two that keeps the stored buckets within 128 MB, never below the
    * stored modulus, so the count only grows (one rewrite per doubling).
    */
  private[materialize] def derivedBuckets(cur: Option[graft.table.Snapshot]): Int = {
    val need = (cur.fold(0L)(_.totalBytes) + (128L << 20) - 1) / (128L << 20)
    val pow2 = Iterator.iterate(1)(_ * 2).dropWhile(_ < need).next()
    pow2.max(cur.flatMap(_.hashBuckets).getOrElse(1))
  }

  /** Online point-lookup emulation with per-row field status — the batch
    * analogue of the reference's `get_online_features` response assembly
    * (feast feature_store.py:578-616; statuses
    * protos/feast/serving/ServingService.proto:96-114):
    *
    *  - NOT_FOUND: the key has no feature row at or before `asOf`;
    *  - OUTSIDE_MAX_AGE: the latest row is older than `asOf - ttl`;
    *  - NULL_VALUE: a row matched but the feature value is null;
    *  - PRESENT: otherwise.
    *
    * `keys` drives the output (one row per requested key, reference
    * semantics); the latest row per key is resolved from the full history.
    * Plan: history filtered to `ts <= asOf` (pushed to the scan) → one
    * latest-per-key sort aggregate → right-side lookup joined to the
    * (usually broadcastable) key list.
    */
  def lookupLatest(
      history: DataFrame,
      keys: DataFrame,
      keyCols: Seq[String],
      ts: String,
      valueCol: String,
      asOf: java.sql.Timestamp,
      ttlSeconds: Option[Long],
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil): DataFrame = {
    val latest = latestPerKey(
      history.where(col(ts) <= lit(asOf)), keyCols, ts, createdTs, ties)
    keys.join(latest, keyCols, "left")
      .withColumn("status", lookupStatus(ts, valueCol, asOf, ttlSeconds))
  }

  /** The one online field status of [[lookupLatest]] and [[lookupMulti]]
    * for a looked-up row with matched timestamp `tsCol` and value `value`.
    */
  private def lookupStatus(
      tsCol: String,
      value: String,
      asOf: java.sql.Timestamp,
      ttlSeconds: Option[Long]): Column = {
    val expired: Column = ttlSeconds match {
      case Some(t) => col(tsCol) < Timestamps.literalMinusSeconds(asOf, t)
      case None => lit(false)
    }
    when(col(tsCol).isNull, lit("NOT_FOUND"))
      .when(expired, lit("OUTSIDE_MAX_AGE"))
      .when(col(value).isNull, lit("NULL_VALUE"))
      .otherwise(lit("PRESENT"))
  }

  /** One view's worth of online-lookup inputs for [[Materialize.lookupMulti]]:
    * a feature history plus the metadata needed to resolve its latest row
    * per key and name its outputs.
    */
  final case class OnlineView(
      name: String,
      history: DataFrame,
      keyCols: Seq[String],
      ts: String,
      features: Seq[String],
      ttlSeconds: Option[Long] = None,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil)

  /** Multi-view / multi-feature online lookup — the full
    * `get_online_features` response assembly (feast
    * feature_store.py:503-617; online_response.py:74-110): one output row
    * per requested key tuple, with a value column and a status column PER
    * FEATURE across all views (`view__feature`, `view__feature__status`).
    * Statuses per feature:
    *
    *  - NOT_FOUND: the key has no row in that view at or before `asOf`;
    *  - OUTSIDE_MAX_AGE: the view's latest row is older than `asOf - ttl`;
    *  - NULL_VALUE: a row matched but that feature's value is null;
    *  - PRESENT: otherwise.
    *
    * Plan: per view one latest-per-key sort aggregate over the ts-bounded
    * history (filter pushed to the scan), folded onto the key frame with
    * left joins — the key frame is usually small enough that every join
    * broadcasts.
    */
  def lookupMulti(
      keys: DataFrame,
      views: Seq[OnlineView],
      asOf: java.sql.Timestamp): DataFrame =
    views.foldLeft(keys) { (acc, v) =>
      val tsOut = s"__graft_ts_${v.name}"
      val projected = v.history.select(
        (v.keyCols ++ Seq(v.ts) ++ v.createdTs.toSeq ++ v.ties ++ v.features)
          .distinct.map(col): _*)
      val latest = latestPerKey(
        projected.where(col(v.ts) <= lit(asOf)), v.keyCols, v.ts, v.createdTs, v.ties)
        .withColumnRenamed(v.ts, tsOut)
        .select((v.keyCols.map(col) :+ col(tsOut)) ++ v.features.map(col): _*)
      v.features.foldLeft(acc.join(latest, v.keyCols, "left")) { (d, f) =>
        val out = s"${v.name}__$f"
        d.withColumn(s"${out}__status", lookupStatus(tsOut, f, asOf, v.ttlSeconds))
          .withColumnRenamed(f, out)
      }.drop(tsOut)
    }

  /** Entity-frame timestamp bounds (bigquery.py:415-434): one tiny agg job
    * whose result is injected as scan-pruning literals on the feature side.
    * Values are whatever the timestamp column yields (java.sql.Timestamp for
    * TIMESTAMP, java.time.LocalDateTime for TIMESTAMP_NTZ) — `lit` accepts
    * both, so downstream pruning stays type-exact.
    */
  def timestampBounds(entity: DataFrame, ts: String): (Any, Any) = {
    val row = entity.agg(min(col(ts)), max(col(ts))).head()
    (row.get(0), row.get(1))
  }

  /** Prune a feature frame to [minEntityTs - ttl, maxEntityTs] before an
    * as-of join (the reference's global time filter, bigquery.py:596-599).
    */
  def pruneToEntityRange(
      feature: DataFrame,
      featureTs: String,
      bounds: (Any, Any),
      ttlSeconds: Option[Long]): DataFrame = {
    val (lo, hi) = bounds
    val lower: Column = ttlSeconds match {
      case Some(ttl) => col(featureTs) >= Timestamps.literalMinusSeconds(lo, ttl)
      case None => lit(true)
    }
    feature.where(lower && col(featureTs) <= lit(hi))
  }
}
