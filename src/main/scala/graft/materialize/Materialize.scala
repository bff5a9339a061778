package graft.materialize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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

  /** Compacting keyed upsert into a snapshot table — the batch-engine
    * counterpart of the reference online store's per-(entity_key, feature)
    * UPDATE-then-INSERT (sqlite.py:76-128). The incoming batch is merged
    * with the table's current contents and re-resolved to latest-per-key,
    * then committed as ONE new snapshot: reads see exactly one row per key
    * with no read-time resolution, the manifest publish makes each upsert
    * atomic (a reader never observes a half-merged table), and time travel
    * to pre-upsert snapshots keeps working. An incoming row LOSES to a
    * stored row with a newer (ts, tie) — order-independent convergence, not
    * last-writer-wins. Rewrites the stored table once per batch, which is
    * the right trade for an ONLINE table (one row per entity — small);
    * event history stays on the append + [[pullLatest]] path. The merge
    * reads one snapshot and commits on top of exactly that one: a snapshot
    * another writer publishes in between makes this upsert fail
    * (`ConcurrentModificationException`) instead of silently dropping the
    * other writer's rows.
    */
  def upsertLatest(
      table: graft.table.SnapshotTable,
      batch: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil): graft.table.Snapshot = {
    val cur = table.currentSnapshot
    val merged = cur match {
      case Some(snap) => table.read(batch.sparkSession, snap).unionByName(batch)
      case None => batch
    }
    table.commit(latestPerKey(merged, keys, ts, createdTs, ties), parent = cur)
  }

  /** Key-bucket-scoped [[upsertLatest]] — the 100 TB shape. [[upsertLatest]]
    * rewrites the whole latest table per batch (fine while the online table
    * is small); here the table's data files are partitioned by a
    * deterministic key-hash bucket recorded per file in the snapshot
    * manifest ([[graft.table.FileStat.bucket]]), and a batch rewrites ONLY
    * the files whose buckets it touches — a merge-on-write restricted to
    * intersecting files, exactly Iceberg's partition-scoped overwrite. The
    * untouched files are carried into the new manifest by reference, never
    * read, copied, or rewritten, so per-batch cost is O(touched buckets'
    * rows), not O(table). Semantics are byte-identical to [[upsertLatest]]
    * (same latest-per-key resolution, same order-independent convergence —
    * an incoming row loses to a stored newer row), spec-asserted.
    *
    * Size `nBuckets` so one bucket ≈ one comfortable task (rows/nBuckets ×
    * row width ~ 100-500 MB); a hot-key batch still only pays for the
    * buckets it lands in. A legacy/compacted snapshot with unbucketed files
    * is upgraded in place: those files count as touched once, then every
    * later upsert is bucket-scoped. The manifest records the bucket modulus
    * ([[graft.table.Snapshot.bucketModulus]]); changing `nBuckets` between
    * batches is safe — the mismatch forces one full rebucketing rewrite
    * instead of silently carrying files whose bucket ids were computed
    * under a different modulus. The key COLUMNS must stay the same across
    * batches (they define the hash; the table has one key schema). Like
    * [[upsertLatest]], it commits on top of the snapshot it read and fails
    * if another writer published first.
    */
  def upsertLatestBucketed(
      table: graft.table.SnapshotTable,
      batch: DataFrame,
      keys: Seq[String],
      ts: String,
      createdTs: Option[String] = None,
      ties: Seq[String] = Nil,
      nBuckets: Int = 64): graft.table.Snapshot = {
    require(nBuckets >= 1, "nBuckets >= 1")
    val spark = batch.sparkSession
    val bucketExpr =
      pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")
    // planning-time scalar, bounded by nBuckets (the documented collect class)
    val touched = batch.select(bucketExpr.as("__bucket"))
      .distinct().collect().map(_.getInt(0)).toSet
    val cur = table.currentSnapshot
    val (reread, carry) = cur match {
      case Some(snap) =>
        // A file's bucket id only means something under the modulus it was
        // written with: carrying a bucket=3-of-64 file past a nBuckets=16
        // upsert would duplicate keys. On mismatch every file counts as
        // touched once (full self-healing rewrite under the new modulus),
        // then later upserts are bucket-scoped again.
        val sameModulus = snap.bucketModulus.contains(nBuckets)
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
    val resolved = latestPerKey(merged, keys, ts, createdTs, ties)
      .withColumn("__bucket", bucketExpr)
    table.commitBucketed(resolved, "__bucket", modulus = nBuckets, carryForward = carry,
      parent = cur)
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
      case Some(t) => col(tsCol) < lit(asOf) - expr(s"INTERVAL $t SECONDS")
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
      case Some(ttl) => col(featureTs) >= (lit(lo) - expr(s"INTERVAL $ttl SECONDS"))
      case None => lit(true)
    }
    feature.where(lower && col(featureTs) <= lit(hi))
  }
}
