package graft.model

/** One-way export of the applied registry to the reference's protobuf wire
  * layout (protos/feast/core/Registry.proto; persisted by registry.py:443-614)
  * so a reference deployment can READ views applied here. The engine's own
  * registry stays JSON ([[Registry]] — functional parity, better diffing);
  * this is the interop seam only.
  *
  * Written from scratch against the PUBLIC proto3 encoding spec (the same
  * ground as [[graft.streaming.ProtoDecode]], its read-side sibling):
  * tag = (field << 3) | wireType varints, wire type 0 for
  * ints/bools/enums, 2 for strings/bytes/sub-messages; proto3 serializers
  * OMIT default-valued scalar fields (0 / "" / false), which this writer
  * reproduces, and emit present sub-messages even when empty (the
  * `FileFormat{parquet_format{}}` oneof arm is exactly such a presence-only
  * message). Fields are written in ascending field-number order — the
  * canonical layout reference-generated serializers produce.
  *
  * Message tree mirrored (field numbers in parens):
  *  - Registry: entities(1, Entity), registry_schema_version(3) = "1"
  *    (registry.py:36), version_id(4), last_updated(5, Timestamp),
  *    feature_views(6, FeatureView)
  *  - Entity: spec(1, EntitySpecV2{name(1), value_type(2, enum),
  *    join_key(4), labels(8), project(9)})
  *  - FeatureView: spec(1, FeatureViewSpec{name(1), project(2),
  *    entities(3, repeated string), features(4, FeatureSpecV2{name(1),
  *    value_type(2)}), ttl(6, Duration), batch_source(7, DataSource),
  *    online(8)}), meta(2, FeatureViewMeta{materialization_intervals(3)})
  *  - DataSource: type(1) = BATCH_FILE(1), field_mapping(2, map entries),
  *    event_timestamp_column(3), date_partition_column(4),
  *    created_timestamp_column(5), file_options(11,
  *    FileOptions{file_format(1, FileFormat{parquet_format(1)}), file_url(2)})
  *
  * Value-type enum numbers follow Value.proto:26-46 (BYTES=1 ...
  * UNIX_TIMESTAMP=8, lists = scalar + 10). [[ValueType.MapOf]] is an engine
  * extension with no reference enum arm — it exports as INVALID(0), which a
  * reference reader surfaces rather than mis-types.
  *
  * `version_id` is uuid4-per-update in the reference (debugging only,
  * registry.py:475); here it defaults to a CONTENT hash so the export is
  * deterministic and idempotent — same applied views, same bytes.
  */
object RegistryProto {

  /** Minimal proto3 wire writer (append-only, ascending-field discipline is
    * the caller's).
    */
  private final class W {
    private val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): W = {
      var v = v0
      var go = true
      while (go) {
        val b = (v & 0x7f).toInt
        v = v >>> 7
        if (v != 0L) out.write(b | 0x80) else { out.write(b); go = false }
      }
      this
    }
    private def key(field: Int, wt: Int): W = varint((field.toLong << 3) | wt)
    /** varint scalar; proto3-omitted when 0. */
    def int(field: Int, v: Long): W = if (v == 0L) this else { key(field, 0); varint(v) }
    def bool(field: Int, b: Boolean): W = if (b) int(field, 1L) else this
    def str(field: Int, s: String): W =
      if (s == null || s.isEmpty) this
      else raw(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def raw(field: Int, b: Array[Byte]): W = {
      key(field, 2); varint(b.length.toLong); out.write(b, 0, b.length); this
    }
    /** Sub-message: written even when empty (message PRESENCE is data). */
    def msg(field: Int, m: W): W = raw(field, m.bytes)
    /** Verbatim append of already-encoded (tagged) fields. */
    def append(encoded: Array[Byte]): W = { out.write(encoded, 0, encoded.length); this }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Value.proto enum number. */
  def valueTypeEnum(vt: ValueType): Int = vt match {
    case ValueType.BYTES => 1
    case ValueType.STRING => 2
    case ValueType.INT32 => 3
    case ValueType.INT64 => 4
    case ValueType.DOUBLE => 5
    case ValueType.FLOAT => 6
    case ValueType.BOOL => 7
    case ValueType.UNIX_TIMESTAMP => 8
    case ValueType.ListOf(e) =>
      // a list of an extension type has no reference arm either — INVALID,
      // never an undefined number like 0 + 10
      val el = valueTypeEnum(e)
      if (el == 0) 0 else el + 10
    case _: ValueType.MapOf => 0 // engine extension: no reference arm
  }

  private def tsMsg(i: java.time.Instant): W =
    new W().int(1, i.getEpochSecond).int(2, i.getNano.toLong)

  private def entityMsg(e: Entity, project: String): W = {
    val spec = new W()
      .str(1, e.name)
      .int(2, valueTypeEnum(e.valueType).toLong)
      .str(4, e.key)
      .str(9, project)
    new W().msg(1, spec)
  }

  private def dataSourceMsg(s: BatchSource): W = {
    val w = new W().int(1, 1L) // SourceType.BATCH_FILE
    s.fieldMapping.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.msg(2, new W().str(1, k).str(2, v))
    }
    w.str(3, s.eventTimestampColumn)
      .str(4, s.datePartitionColumn.getOrElse(""))
      .str(5, s.createdTimestampColumn.getOrElse(""))
    val fileFormat = new W().msg(1, new W()) // FileFormat{parquet_format{}}
    w.msg(11, new W().msg(1, fileFormat).str(2, s.path))
  }

  private def viewMsg(
      v: FeatureView,
      project: String,
      intervals: Seq[(java.time.Instant, java.time.Instant)]): W = {
    val spec = new W()
      .str(1, v.name)
      .str(2, project)
    v.entities.foreach(e => spec.str(3, e.name))
    v.features.foreach(f =>
      spec.msg(4, new W().str(1, f.name).int(2, valueTypeEnum(f.valueType).toLong)))
    v.ttlSeconds.foreach(t => spec.msg(6, new W().int(1, t)))
    spec.msg(7, dataSourceMsg(v.source))
      .bool(8, true) // batch views here are always online-servable
    val meta = new W()
    intervals.foreach { case (lo, hi) =>
      meta.msg(3, new W().msg(1, tsMsg(lo)).msg(2, tsMsg(hi)))
    }
    new W().msg(1, spec).msg(2, meta)
  }

  /** Serialize applied views (+ their materialization intervals) as a
    * reference-readable Registry message. Deterministic: views sorted by
    * name, map entries by key, version_id a content hash unless given.
    */
  def registryBytes(
      views: Seq[FeatureView],
      project: String = "default",
      lastUpdated: java.time.Instant = java.time.Instant.EPOCH,
      intervals: Map[String, Seq[(java.time.Instant, java.time.Instant)]] = Map.empty,
      versionId: Option[String] = None): Array[Byte] = {
    val sorted = views.sortBy(_.name)
    // conflicting redefinitions must FAIL, not silently export whichever
    // view sorts first: the reference registry has one Entity per name
    val entities = sorted.flatMap(_.entities).distinct.sortBy(_.name)
    entities.groupBy(_.name).foreach { case (n, defs) =>
      require(defs.size == 1,
        s"entity '$n' is declared with conflicting definitions across views: " +
          defs.map(e => s"(${ValueType.name(e.valueType)}, join_key=${e.key})")
            .mkString(", "))
    }
    val viewBytes = {
      val w = new W()
      sorted.foreach(v =>
        w.msg(6, viewMsg(v, project, intervals.getOrElse(v.name, Nil))))
      w.bytes
    }
    val vid = versionId.getOrElse {
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(viewBytes)
      d.take(16).map(b => f"$b%02x").mkString
    }
    val full = new W()
    entities.foreach(e => full.msg(1, entityMsg(e, project)))
    full.str(3, "1") // REGISTRY_SCHEMA_VERSION (registry.py:36)
      .str(4, vid)
    if (lastUpdated != java.time.Instant.EPOCH) full.msg(5, tsMsg(lastUpdated))
    // viewBytes already holds the field-6-tagged views (it fed the content
    // hash) — append verbatim rather than encoding the tree a second time
    full.append(viewBytes).bytes
  }

  /** Export a [[Registry]]'s applied views (and each view's completed
    * materialization intervals from its table's manifest) to `outPath` in the
    * reference's registry wire format.
    */
  def exportTo(
      registry: Registry,
      outPath: String,
      project: String = "default",
      lastUpdated: java.time.Instant = java.time.Instant.EPOCH): Unit = {
    val views = registry.load().values.toSeq
    val intervals = views.map(v => v.name -> registry.materializedIntervals(v.name)).toMap
    val bytes = registryBytes(views, project, lastUpdated, intervals)
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, bytes)
  }
}
