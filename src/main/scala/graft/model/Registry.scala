package graft.model

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Flat JSON row for one applied FeatureView — the serde currency of the
  * registry file. Value types use the reference's proto enum names
  * ("INT32", "FLOAT_LIST", ...).
  */
final case class RegistryRow(
    view: String,
    entityNames: Seq[String],
    entityTypes: Seq[String],
    joinKeys: Seq[String],
    featureNames: Seq[String],
    featureTypes: Seq[String],
    sourcePath: String,
    eventTsCol: String,
    createdTsCol: Option[String],
    fieldMappingKeys: Seq[String],
    fieldMappingValues: Seq[String],
    datePartitionColumn: Option[String],
    ttlSeconds: Option[Long])

/** Persistent registry of applied FeatureViews — the Spark re-expression of
  * the reference's protobuf registry file (feast registry.py:39-78,
  * 443-614): `apply` upserts view definitions, `load` returns the live map
  * consumed by [[graft.FeatureStore]]. Serialization is Spark's own JSON
  * reader/writer over [[RegistryRow]] (no extra deps, schema-checked by the
  * encoder). Materialization intervals — the reference keeps them in this
  * file (registry.py:208-246) — live in the manifest of each view's
  * snapshot table at [[tablePath]], where every backfill commit records the
  * interval it completes; the registry reads them through.
  */
final class Registry(val spark: SparkSession, path: String) {
  import spark.implicits._

  private def toRow(v: FeatureView): RegistryRow = RegistryRow(
    view = v.name,
    entityNames = v.entities.map(_.name),
    entityTypes = v.entities.map(e => ValueType.name(e.valueType)),
    joinKeys = v.entities.map(_.key),
    featureNames = v.features.map(_.name),
    featureTypes = v.features.map(f => ValueType.name(f.valueType)),
    sourcePath = v.source.path,
    eventTsCol = v.source.eventTimestampColumn,
    createdTsCol = v.source.createdTimestampColumn,
    fieldMappingKeys = v.source.fieldMapping.keys.toSeq.sorted,
    fieldMappingValues = v.source.fieldMapping.keys.toSeq.sorted.map(v.source.fieldMapping),
    datePartitionColumn = v.source.datePartitionColumn,
    ttlSeconds = v.ttlSeconds)

  private def fromRow(r: RegistryRow): FeatureView = FeatureView(
    name = r.view,
    entities = r.entityNames.lazyZip(r.entityTypes).lazyZip(r.joinKeys).map {
      (n, t, k) => Entity(n, ValueType.fromName(t), if (k == n) None else Some(k))
    }.toSeq,
    features = r.featureNames.lazyZip(r.featureTypes).map {
      (n, t) => Feature(n, ValueType.fromName(t))
    }.toSeq,
    source = BatchSource(
      path = r.sourcePath,
      eventTimestampColumn = r.eventTsCol,
      createdTimestampColumn = r.createdTsCol,
      fieldMapping = r.fieldMappingKeys.zip(r.fieldMappingValues).toMap,
      datePartitionColumn = r.datePartitionColumn),
    ttlSeconds = r.ttlSeconds)

  /** Reference inference at apply time (feature_view.py:262-294 +
    * inference.py:12-59): a view applied with NO declared features infers
    * them from the (field-mapped) source schema — every column except
    * entity join keys, the event/created timestamp columns, timestamp-typed
    * columns, and `__`-internal columns. Inferred features persist into the
    * registry file (as the reference does), so `load`/`featureStore` always
    * see a fully-typed view.
    */
  private def inferFeatures(v: FeatureView): FeatureView =
    if (v.features.nonEmpty) v
    else {
      val schema = FieldMapping(
        spark.read.parquet(v.source.path), v.source.fieldMapping).schema
      val excluded = v.joinKeys.toSet + v.source.eventTimestampColumn ++
        v.source.createdTimestampColumn ++ v.source.datePartitionColumn
      val feats = Inference.features(schema, excluded)
      require(feats.nonEmpty,
        s"view '${v.name}': no features declared and none inferable from the source schema")
      v.copy(features = feats)
    }

  /** Upsert view definitions (latest apply wins, like feast `apply`). */
  def apply(views: Seq[FeatureView]): Unit = {
    val incoming = views.map(inferFeatures)
    val merged = (load().values.toSeq.filterNot(v => incoming.exists(_.name == v.name)) ++ incoming)
      .sortBy(_.name)
    val ds: Dataset[RegistryRow] = merged.map(toRow).toDS().coalesce(1)
    ds.write.mode("overwrite").json(path)
  }

  /** The applied views; empty before the first `apply`. Existence is
    * tested through `path`'s Hadoop FileSystem — the one `apply` writes
    * through — so `file://`, `hdfs://` and plain paths all read back.
    */
  def load(): Map[String, FeatureView] = {
    val p = new Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) Map.empty
    else spark.read.schema(implicitly[org.apache.spark.sql.Encoder[RegistryRow]].schema)
      .json(path).as[RegistryRow]
      .collect().map(r => r.view -> fromRow(r)).toMap
  }

  /** Convenience: a FeatureStore over the currently applied views. */
  def featureStore(): graft.FeatureStore = new graft.FeatureStore(spark, load())

  /** The snapshot table a view materializes into: a sibling of the
    * registry, taken with Hadoop `Path` so it has the registry's scheme
    * (`file://`, `hdfs://`, plain paths). Its manifest is the view's
    * materialization checkpoint.
    */
  def tablePath(view: String): String =
    new Path(new Path(path).getParent, s"table_$view").toString

  /** Completed materialization intervals for a view, coalesced and sorted
    * ascending — the registry's answer to "what's materialized?", read
    * from the current manifest of the view's table.
    */
  def materializedIntervals(view: String): Seq[(java.time.Instant, java.time.Instant)] =
    graft.table.SnapshotTable(tablePath(view)).currentSnapshot.toSeq.flatMap(_.intervals)
      .map(r => (java.time.Instant.ofEpochMilli(r.lo), java.time.Instant.ofEpochMilli(r.hi)))
}
