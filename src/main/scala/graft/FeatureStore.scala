package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}

import graft.model._
import graft.pit.{AsOfJoin, AsOfSpec}
import graft.materialize.Materialize

/** Facade re-creating the reference's `FeatureStore.get_historical_features`
  * (feast feature_store.py:276-341) as one declarative Catalyst plan:
  * resolve refs → per-view (scan → field-map → prune to entity time range →
  * as-of join) → fold left-joins onto the entity frame. Spark is the
  * execution engine, so the "RetrievalJob" IR is simply the returned lazy
  * DataFrame.
  */
final class FeatureStore(spark: SparkSession, views: Map[String, FeatureView]) {

  /** @param entityTsColumn the entity frame's event-timestamp column; empty
    *   string (the default) infers it from the schema the way the reference
    *   does (file.py:62-75): the column literally named `event_timestamp`
    *   if present, else the unique timestamp-typed column.
    * @param saltBuckets with > 1 plus `autoDetectHotKeys`, entity keys whose
    *   sampled share exceeds ~1% are salted across this many sub-buckets in
    *   the as-of window (hot-key mitigation; correctness unchanged — see
    *   AsOfJoin.windowed). Detection is one O(sample) aggregate per view.
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
    val entityNorm = entityDf.withColumn(tsCol, graft.fe.Timestamps.normalizeUtc(
      col(tsCol), entityDf.schema(tsCol).dataType))
    val grouped = FeatureRefs.group(FeatureRefs.parse(featureRefs), views, fullFeatureNames)
    val bounds = Materialize.timestampBounds(entityNorm, tsCol)

    // Split the fold: narrow scalar views fold directly onto the entity
    // frame (their payload is cheap to carry through later windows); wide
    // (array/binary/map/struct) views run ENTITY-SIDE LATE MATERIALIZED —
    // each joins a distinct narrow (join keys, ts) probe keyed by a hash
    // row-id, and the wide results stitch back by rowId equi-joins at the
    // very end. Consequences at scale: NO wide column — neither an entity
    // payload nor an earlier wide view's features — ever enters any window
    // exchange/sort, for any number of wide views (round 2's fold put wide
    // views last, but a second wide view still pushed the first one's
    // payload through its window). The as-of result depends only on
    // (join keys, ts), so stitching on hash(keys, ts) is exact up to 64-bit
    // collisions between DISTINCT key-ts tuples (~n²/2⁶⁵ — the standard
    // documented trade); legal duplicate entity rows share a rowId and each
    // receives the single matched wide row, preserving multiplicity.
    def isWide(view: FeatureView, feats: Seq[String]): Boolean =
      view.features.exists(f =>
        feats.contains(f.name) && (f.valueType match {
          case _: ValueType.ListOf | _: ValueType.MapOf => true
          case ValueType.BYTES => true
          case _ => false
        }))
    def joinOne(acc: DataFrame, view: FeatureView, feats: Seq[String]): DataFrame = {
      val keys = view.joinKeys
      keys.foreach(k => require(acc.columns.contains(k),
        s"entity frame is missing join key '$k' for view '${view.name}'"))
      val raw = spark.read.parquet(view.source.path)
      val mapped = FieldMapping(raw, view.source.fieldMapping)
      val pruned = prunePartitions(
        Materialize.pruneToEntityRange(
          mapped, view.source.eventTimestampColumn, bounds, view.ttlSeconds),
        view, bounds)
      val projected = pruned.select(
        (keys ++ Seq(view.source.eventTimestampColumn) ++
          view.source.createdTimestampColumn.toSeq ++ feats).distinct.map(col): _*)
      val spec = AsOfSpec(
        keys = keys,
        leftTs = tsCol,
        rightTs = view.source.eventTimestampColumn,
        createdTs = view.source.createdTimestampColumn,
        ttlSeconds = view.ttlSeconds,
        features = feats)
      val hot: Seq[Any] =
        if (saltBuckets > 1 && autoDetectHotKeys)
          graft.exec.Skew.detectHotKeyTuples(entityDf, keys)
        else Nil
      val joined = joinView(acc, projected, spec, feats,
        if (hot.nonEmpty || (saltBuckets > 1 && !autoDetectHotKeys)) saltBuckets else 1,
        hot)
      feats.foldLeft(joined) { (d, f) =>
        d.withColumnRenamed(f, FeatureRefs.outputName(view.name, f, fullFeatureNames))
      }
    }

    val (wideSeq, narrowSeq) =
      grouped.toSeq.sortBy(_._1.name).partition { case (v, f) => isWide(v, f) }
    val narrowAcc = narrowSeq.foldLeft(entityNorm) { case (acc, (view, feats)) =>
      joinOne(acc, view, feats)
    }
    if (wideSeq.isEmpty) narrowAcc
    else {
      val rid = "__graft_ent_rowid"
      // union of all wide views' join keys + the entity ts: the full
      // determinant of every wide as-of result
      val keyCols = (wideSeq.flatMap(_._1.joinKeys).distinct :+ tsCol).distinct
      val probeBase = entityNorm.select(keyCols.map(col): _*)
        .withColumn(rid, xxhash64(keyCols.map(col): _*))
        .dropDuplicates(rid)
      val wideJoined = wideSeq.map { case (view, feats) =>
        val probe = probeBase.select(
          ((view.joinKeys :+ tsCol).distinct :+ rid).map(col): _*)
        val outNames = feats.map(f =>
          FeatureRefs.outputName(view.name, f, fullFeatureNames))
        joinOne(probe, view, feats).select((rid +: outNames).map(col): _*)
      }
      val accWithId = narrowAcc.withColumn(rid, xxhash64(keyCols.map(col): _*))
      wideJoined.foldLeft(accWithId)((a, w) => a.join(w, Seq(rid), "left")).drop(rid)
    }
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

  /** Route per payload width: narrow scalar features ride the single-shuffle
    * windowed as-of join directly; views with array/binary/map/struct
    * features go through [[AsOfJoin.windowedLate]] so wide payloads never
    * pass through the window's exchange+sort (the round-1 facade pushed
    * token arrays through the window — exactly the pattern windowedLate was
    * built to avoid). The fetch row id is a deterministic hash of the full
    * projected row: stable across the plan's two computations of the
    * feature frame, unique up to 64-bit collisions (~n²/2⁶⁵ — a collision
    * could duplicate one entity row with an identical-hash payload; at that
    * probability this is the standard engineering trade). Rows that are
    * IDENTICAL after projection hash equal by construction, so the frame is
    * deduplicated on the row id before the join — collapsing them is
    * semantics-preserving (the as-of pick among identical rows is identical)
    * and keeps the final fetch join at exactly one row per entity row. The
    * dedup runs over the whole projected frame, payload included; with
    * array features it plans as a sort aggregate, the one operator that
    * sorts the payload.
    * Map-typed columns are serialized with `to_json` before hashing (Spark
    * rejects hash expressions over maps because map equality is
    * order-insensitive; `to_json` of our projected rows is deterministic for
    * a given row value, which is all row-identity needs).
    */
  private def joinView(
      acc: DataFrame,
      projected: DataFrame,
      spec: AsOfSpec,
      feats: Seq[String],
      saltBuckets: Int = 1,
      hotKeys: Seq[Any] = Nil): DataFrame = {
    val wide = projected.schema.fields.exists(f =>
      feats.contains(f.name) && (f.dataType match {
        case _: ArrayType | _: BinaryType | _: MapType | _: StructType => true
        case _ => false
      }))
    if (!wide) AsOfJoin.windowed(acc, projected, spec, saltBuckets, hotKeys)
    else {
      val rowId = "__graft_rowid"
      val hashInputs = projected.schema.fields.toSeq.map(f =>
        if (AsOfJoin.containsMap(f.dataType)) to_json(col(f.name)) else col(f.name))
      val withId = projected
        .withColumn(rowId, xxhash64(hashInputs: _*))
        .dropDuplicates(rowId)
      AsOfJoin.windowedLate(acc, withId, spec, rowId = rowId,
        saltBuckets = saltBuckets, hotKeys = hotKeys).drop(rowId)
    }
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
          case Some(ttl) => to_date(lit(lo) - expr(s"INTERVAL $ttl SECONDS"))
          case None => lit(null) // unbounded lookback: no lower partition cut
        }
        val lowerOk = view.ttlSeconds match {
          case Some(_) => col(dpc) >= lower
          case None => lit(true)
        }
        feature.where(lowerOk && col(dpc) <= to_date(lit(hi)))
    }
}
