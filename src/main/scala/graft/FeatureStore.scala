package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

import graft.fe.Timestamps
import graft.model._
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.materialize.Materialize

/** Facade re-creating the reference's `FeatureStore.get_historical_features`
  * (feast feature_store.py:276-341) as one declarative Catalyst plan:
  * resolve refs → read each source path once → per view (field-map → prune
  * to the entity time range) → ONE as-of window per join-key set, each view
  * on those keys one side of it → late payload fetches. Spark is the
  * execution engine, so the "RetrievalJob" IR is simply the returned lazy
  * DataFrame.
  */
final class FeatureStore(spark: SparkSession, views: Map[String, FeatureView]) {

  private val RowId = "__graft_rowid"

  /** One view of a retrieval: its output feature `names`, its row-id
    * column, its projected source rows and whether it is late-materialized.
    */
  private case class Side(
      view: FeatureView, names: Seq[String], rowId: String, src: DataFrame, wide: Boolean)

  /** @param entityTsColumn the entity frame's event-timestamp column; empty
    *   string (the default) infers it from the schema the way the reference
    *   does (file.py:62-75): the column literally named `event_timestamp`
    *   if present, else the unique timestamp-typed column.
    * @param saltBuckets with > 1 plus `autoDetectHotKeys`, entity keys whose
    *   sampled share exceeds ~1% are salted across this many sub-buckets in
    *   the as-of window (hot-key mitigation; correctness unchanged — see
    *   AsOfJoin.windowed). Detection is one O(sample) aggregate per as-of
    *   window, i.e. per join-key set.
    */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      featureRefs: Seq[String],
      entityTsColumn: String = "",
      fullFeatureNames: Boolean = false,
      saltBuckets: Int = 1,
      autoDetectHotKeys: Boolean = false): DataFrame = {
    val tsCol =
      if (entityTsColumn.nonEmpty) entityTsColumn
      else Inference.eventTimestampColumn(entityDf.schema)
    require(entityDf.columns.contains(tsCol),
      s"entity frame is missing timestamp column '$tsCol'")
    // Reference utils.py:6-11 semantics: tz-naive ⇒ UTC, tz-aware ⇒ convert
    // to UTC. String timestamps (the only representation that can mix
    // zones per value) are parsed and re-rendered as UTC wall time here.
    val entityNorm = entityDf.withColumn(tsCol, Timestamps.normalizeUtc(
      col(tsCol), entityDf.schema(tsCol).dataType))
    val grouped = FeatureRefs.group(FeatureRefs.parse(featureRefs), views, fullFeatureNames)
    val bounds = Materialize.timestampBounds(entityNorm, tsCol)

    // Each distinct source path is read once; the views on it share the
    // frame and its scan-position row id. Reads go in view-name order, so
    // a plan's expression ids do not depend on the paths' hash order.
    val reads: Map[String, DataFrame] = grouped.keys.toSeq.sortBy(_.name).map(_.source.path).distinct
      .map(p => p -> spark.read.parquet(p).withColumn(RowId,
        xxhash64(col("_metadata.file_path"), col("_metadata.row_index")))).toMap
    val all = grouped.toSeq.sortBy(_._1.name).zipWithIndex.map { case ((view, feats), i) =>
      view.joinKeys.foreach(k => require(entityNorm.columns.contains(k),
        s"entity frame is missing join key '$k' for view '${view.name}'"))
      val names = feats.distinct.map(FeatureRefs.outputName(view.name, _, fullFeatureNames))
      val rowId = s"${RowId}_$i"
      val src = source(view, feats.distinct, names, bounds, reads(view.source.path), rowId)
      val wide = src.schema.fields.exists(f => names.contains(f.name) && (f.dataType match {
        case _: ArrayType | _: BinaryType | _: MapType | _: StructType => true
        case _ => false
      }))
      Side(view, names, rowId, src, wide)
    }
    val (wide, narrow) = all.partition(_.wide)

    // One as-of core per join-key set: every view on those keys is one side
    // of ONE window (one exchange, one sort, one Window operator). A narrow
    // (scalar) view's values ride the window. A wide (array/binary/map/
    // struct) view is LATE MATERIALIZED (see AsOfJoin.fetch): its side
    // carries only a row id, and its payload is fetched by one shuffle-hash
    // join on that id after EVERY window has run — so no window's exchange
    // or sort carries any view's payload.
    // Every entity row is windowed as it is, so duplicate rows each keep
    // their match and a null key matches nothing (null features).
    val ordered = narrow ++ wide
    val windows = ordered.map(_.view.joinKeys).distinct
      .map(keys => ordered.filter(_.view.joinKeys == keys))
    val matched = windows.foldLeft(entityNorm) { (acc, sides) =>
      val keys = sides.head.view.joinKeys
      val hot: Seq[Any] =
        if (saltBuckets > 1 && autoDetectHotKeys)
          graft.exec.Skew.detectHotKeyTuples(entityDf, keys)
        else Nil
      val specs = sides.map(s => s.src -> AsOfSpec(
        keys = keys,
        leftTs = tsCol,
        rightTs = s.view.source.eventTimestampColumn,
        createdTs = s.view.source.createdTimestampColumn,
        ttlSeconds = s.view.ttlSeconds,
        features = if (s.wide) Seq(s.rowId) else s.names))
      AsOfJoin.windowed(acc, specs,
        if (hot.nonEmpty || (saltBuckets > 1 && !autoDetectHotKeys)) saltBuckets else 1,
        hot)
    }
    val fetched = wide.foldLeft(matched) { (acc, s) =>
      AsOfJoin.fetch(acc, s.src.select((s.rowId +: s.names).map(col): _*), s.rowId)
        .drop(s.rowId)
    }
    // entity columns, then narrow features, then wide features, each by view name
    fetched.select(
      (entityNorm.columns.toSeq ++ ordered.flatMap(_.names)).map(c => col(s"`$c`")): _*)
  }

  /** Online lookup through the registry — the reference's
    * `get_online_features` (feature_store.py:503-617) re-expressed as a
    * batch point lookup at `asOf`: refs resolve to views, each view's
    * source is scanned/field-mapped, and [[Materialize.lookupMulti]]
    * assembles one row per requested key with `view__feature` values and
    * per-feature statuses.
    */
  def getOnlineFeatures(
      keys: DataFrame,
      featureRefs: Seq[String],
      asOf: java.sql.Timestamp): DataFrame = {
    val grouped = FeatureRefs.group(
      FeatureRefs.parse(featureRefs), views, fullFeatureNames = true)
    val online = grouped.toSeq.sortBy(_._1.name).map { case (view, feats) =>
      val mapped = FieldMapping(
        spark.read.parquet(view.source.path), view.source.fieldMapping)
      Materialize.OnlineView(view.name, mapped, view.joinKeys,
        view.source.eventTimestampColumn, feats, view.ttlSeconds,
        view.source.createdTimestampColumn)
    }
    Materialize.lookupMulti(keys, online, asOf)
  }

  /** A view's feature rows: field-map the shared read of its path → prune
    * to the entity time range → project join keys, timestamps, `feats`
    * (as their output `names`) and the path's row id (as `rowId`). The row
    * id hashes the row's scan position (`_metadata.file_path`,
    * `_metadata.row_index`): unique per physical row and computed without
    * reading a payload byte, so identical duplicate rows stay distinct and
    * the late fetch returns exactly one payload row per match. It is unique
    * up to 64-bit collisions (~n²/2⁶⁵ — a collision could duplicate an
    * entity row; at that probability this is the standard engineering
    * trade). Rows fully tied on (ts, created) resolve to the larger row id
    * (the as-of window's final tie-break), i.e. by scan position. Unused by
    * narrow views, so Catalyst prunes it from their scans.
    */
  private def source(
      view: FeatureView,
      feats: Seq[String],
      names: Seq[String],
      bounds: (Any, Any),
      read: DataFrame,
      rowId: String): DataFrame = {
    val mapped = FieldMapping(read, view.source.fieldMapping)
    val pruned = prunePartitions(
      Materialize.pruneToEntityRange(
        mapped, view.source.eventTimestampColumn, bounds, view.ttlSeconds),
      view, bounds)
    val base = (view.joinKeys ++ Seq(view.source.eventTimestampColumn) ++
      view.source.createdTimestampColumn.toSeq).distinct
    val featCols = feats.zip(names).collect { case (f, n) if !base.contains(n) => col(f).as(n) }
    pruned.select((base.map(col) ++ featCols :+ col(RowId).as(rowId)): _*)
  }

  /** `date_partition_column` read-side pruning (reference:
    * data_source.py:446-458 + bigquery.py:596-599): convert the entity
    * timestamp bounds into a partition-column predicate so the scan prunes
    * whole date partitions even where parquet min/max stats are weak. The
    * lower bound is widened by the view TTL (a feature row up to `ttl`
    * before the earliest entity timestamp can still match).
    */
  private def prunePartitions(
      feature: DataFrame,
      view: FeatureView,
      bounds: (Any, Any)): DataFrame =
    view.source.datePartitionColumn match {
      case None => feature
      case Some(dpc) =>
        val (lo, hi) = bounds
        val lower: Column = view.ttlSeconds match {
          case Some(ttl) => to_date(Timestamps.literalMinusSeconds(lo, ttl))
          case None => lit(null) // unbounded lookback: no lower partition cut
        }
        val lowerOk = view.ttlSeconds match {
          case Some(_) => col(dpc) >= lower
          case None => lit(true)
        }
        feature.where(lowerOk && col(dpc) <= to_date(lit(hi)))
    }
}
