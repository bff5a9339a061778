package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.SparkSession

import graft.fe.Backfill
import graft.model.Registry
import graft.table.SnapshotTable

/** Command-line entry point mirroring the reference's CLI surface
  * (feast cli.py:1-299 driving repo_operations.py:1-368), re-expressed over
  * the JSON registry + parquet/snapshot-table infrastructure:
  *
  *   apply <registry> <specJson>          upsert feature-view definitions
  *                                        (spec = RegistryRow JSON lines —
  *                                        the registry file format itself)
  *   feature-views list <registry>        print applied views
  *   materialize <registry> <view> <startIso> <endIso>
  *                                        backfill latest-per-key snapshots
  *                                        over daily intervals into the
  *                                        view's table (a sibling of the
  *                                        registry, `table_<view>`); its
  *                                        manifest is the checkpoint, so a
  *                                        re-run skips completed intervals
  *   materialize-incremental <registry> <view> <endIso>
  *                                        resume from the end of the table's
  *                                        last completed interval
  *   retrieve <registry> <entityParquet> <ref,ref,...> <entityTsCol> <out>
  *                                        point-in-time historical features
  *                                        (empty entityTsCol ⇒ inferred)
  *   get-online-features <registry> <keysParquet> <ref,ref,...> <asOfIso>
  *                                        point lookup of the latest values
  *                                        per key at asOf; prints one JSON
  *                                        row per key incl. per-feature
  *                                        statuses
  *   entities list <registry>             print distinct entities across views
  *   init <registry>                      create an empty registry
  *   teardown <registry>                  delete the registry and its
  *                                        views' tables
  *
  * Timestamps are ISO-8601 instants (e.g. 2024-01-10T00:00:00Z). The
  * SparkSession is created here only when none exists (spark-submit /
  * standalone use); under tests the active session is reused and left open.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val existing = SparkSession.getDefaultSession.isDefined
    // SPARK_MASTER points the CLI at a deployment instead of local cores
    val spark = LocalSession(conf = sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)
    try run(spark, args.toList)
    finally if (!existing) spark.stop()
  }

  private def ts(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "apply" :: registryPath :: specJson :: Nil =>
      val spec = new Registry(spark, specJson)
      val views = spec.load().values.toSeq.sortBy(_.name)
      require(views.nonEmpty, s"no feature views found in $specJson")
      new Registry(spark, registryPath).apply(views)
      views.foreach(v => println(s"Applied feature view ${v.name}"))

    case "feature-views" :: "list" :: registryPath :: Nil =>
      val views = new Registry(spark, registryPath).load().values.toSeq.sortBy(_.name)
      if (views.isEmpty) println("No feature views")
      else views.foreach { v =>
        println(s"${v.name}  entities=${v.joinKeys.mkString(",")}  " +
          s"features=${v.features.map(_.name).mkString(",")}  " +
          s"ttl=${v.ttlSeconds.map(t => s"${t}s").getOrElse("none")}")
      }

    case "materialize" :: registryPath :: viewName :: start :: end :: Nil =>
      materialize(spark, new Registry(spark, registryPath), viewName, ts(start), ts(end))

    case "materialize-incremental" :: registryPath :: viewName :: end :: Nil =>
      val registry = new Registry(spark, registryPath)
      val start = Backfill.incrementalStart(SnapshotTable(registry.tablePath(viewName)),
        ts(end), loadView(registry, viewName).ttlSeconds)
      materialize(spark, registry, viewName, start, ts(end))

    case "retrieve" :: registryPath :: entityPath :: refs :: tsCol :: out :: Nil =>
      val store = new Registry(spark, registryPath).featureStore()
      val entity = spark.read.parquet(entityPath)
      val result = store.getHistoricalFeatures(
        entity, refs.split(",").map(_.trim).toSeq, entityTsColumn = tsCol)
      result.write.mode("overwrite").parquet(out)
      println(s"Wrote ${spark.read.parquet(out).count()} rows to $out")

    case "get-online-features" :: registryPath :: keysPath :: refs :: asOf :: Nil =>
      val store = new Registry(spark, registryPath).featureStore()
      val keys = spark.read.parquet(keysPath)
      val result = store.getOnlineFeatures(
        keys, refs.split(",").map(_.trim).toSeq, ts(asOf))
      // deterministic print order: sort by the key columns
      result.orderBy(keys.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
        .toJSON.collect().foreach(println)

    case "entities" :: "list" :: registryPath :: Nil =>
      val views = new Registry(spark, registryPath).load().values.toSeq
      val ents = views.flatMap(_.entities)
        .map(e => (e.name, graft.model.ValueType.name(e.valueType), e.key))
        .distinct.sortBy(_._1)
      if (ents.isEmpty) println("No entities")
      else ents.foreach { case (n, t, k) => println(s"$n  type=$t  join_key=$k") }

    case "init" :: registryPath :: Nil =>
      new Registry(spark, registryPath).apply(Nil)
      println(s"Created registry at $registryPath")

    // Interop: write the applied registry in the reference's protobuf wire
    // layout (Registry.proto) so a reference deployment can read it.
    case "export-registry" :: registryPath :: outPath :: rest if rest.size <= 1 =>
      graft.model.RegistryProto.exportTo(
        new Registry(spark, registryPath), outPath,
        project = rest.headOption.getOrElse("default"),
        lastUpdated = Instant.now())
      println(s"Exported registry to $outPath")

    case "teardown" :: registryPath :: Nil =>
      // the registry is a directory of JSON part files; each applied view's
      // table is its sibling — remove those, nothing else, through the
      // path's own FileSystem (plain paths, file://, hdfs://)
      val registry = new Registry(spark, registryPath)
      val fs = new org.apache.hadoop.fs.Path(registryPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (registry.load().keys.map(registry.tablePath) ++ Seq(registryPath))
        .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
      println(s"Removed registry at $registryPath")

    case other =>
      sys.error(
        "usage: apply|feature-views list|entities list|init|teardown|export-registry|" +
          "materialize|materialize-incremental|retrieve|get-online-features ..." +
          s" (got: ${other.mkString(" ")})")
  }

  private def loadView(registry: Registry, name: String) =
    registry.load().getOrElse(name,
      throw new IllegalArgumentException(s"feature view '$name' not in registry"))

  private def materialize(
      spark: SparkSession,
      registry: Registry,
      viewName: String,
      start: Timestamp,
      end: Timestamp): Unit = {
    val view = loadView(registry, viewName)
    val source = graft.model.FieldMapping(
      spark.read.parquet(view.source.path), view.source.fieldMapping)
    val metrics = Backfill.run(
      spark, source, view.joinKeys, view.source.eventTimestampColumn,
      view.source.createdTimestampColumn, start, end,
      stepSeconds = 24L * 3600, SnapshotTable(registry.tablePath(viewName)))
    metrics.foreach(m => println(
      s"Materialized ${m.intervalId}: ${m.rows} rows, ${m.bytes} bytes, snapshot ${m.snapshotId}"))
    if (metrics.isEmpty) println("Nothing to materialize (all intervals checkpointed)")
  }
}
