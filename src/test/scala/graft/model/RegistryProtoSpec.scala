package graft.model

import java.time.Instant

import graft.SparkSpec
import graft.table.{Interval, SnapshotTable}

/** [[RegistryProto]] vs an INDEPENDENT proto3 wire reader written in this
  * spec (recursive-descent over tag varints, the inverse derivation of the
  * public encoding spec — no code shared with the writer). The reader
  * decodes the exported bytes into a generic field tree; assertions then
  * check every field against the reference's declared numbers
  * (protos/feast/core/Registry.proto, Entity.proto, FeatureView.proto,
  * DataSource.proto, Feature.proto) and proto3 semantics: default-valued
  * scalars absent, present-but-empty sub-messages retained (the
  * `parquet_format {}` oneof arm).
  */
class RegistryProtoSpec extends SparkSpec {
  import RegistryProtoSpec._

  // ---- fixture views ------------------------------------------------------
  private val driver = Entity("driver", ValueType.INT64, joinKey = Some("driver_id"))
  private val cust = Entity("customer", ValueType.STRING)
  private val viewB = FeatureView(
    name = "b_trips",
    entities = Seq(driver, cust),
    features = Seq(
      Feature("trips", ValueType.INT32),
      Feature("embedding", ValueType.ListOf(ValueType.FLOAT))),
    source = BatchSource(
      path = "file:///data/trips.parquet",
      eventTimestampColumn = "event_timestamp",
      createdTimestampColumn = Some("created"),
      fieldMapping = Map("raw_trips" -> "trips", "e" -> "embedding"),
      datePartitionColumn = Some("date")),
    ttlSeconds = Some(86400L))
  private val viewA = FeatureView(
    name = "a_rate",
    entities = Seq(driver),
    features = Seq(Feature("conv_rate", ValueType.DOUBLE)),
    source = BatchSource("file:///data/rate.parquet", "ts"))

  test("full structural decode against the reference's field numbers") {
    val lo = Instant.parse("2021-06-01T00:00:00Z")
    val hi = Instant.parse("2021-06-02T00:00:00.000000500Z")
    val bytes = RegistryProto.registryBytes(
      views = Seq(viewB, viewA), // unsorted on purpose
      project = "proj",
      lastUpdated = Instant.parse("2021-07-01T12:00:00Z"),
      intervals = Map("b_trips" -> Seq(lo -> hi)))
    val reg = decode(bytes)

    // Registry: registry_schema_version(3) = "1", content-hash version_id(4)
    assert(str(reg, 3) == "1")
    assert(str(reg, 4).matches("[0-9a-f]{32}"))
    val lu = msg1(reg, 5)
    assert(int(lu, 1) == Instant.parse("2021-07-01T12:00:00Z").getEpochSecond)
    assert(int(lu, 2) == 0L) // zero nanos omitted, reads back as default

    // entities(1): dedup'd across views, sorted by name
    val entities = msgs(reg, 1).map(e => msg1(e, 1)) // Entity.spec(1)
    assert(entities.map(str(_, 1)) == Vector("customer", "driver"))
    assert(entities.map(int(_, 2)) == Vector(2L, 4L)) // STRING, INT64
    assert(entities.map(str(_, 4)) == Vector("customer", "driver_id"))
    assert(entities.map(str(_, 9)) == Vector("proj", "proj"))

    // feature_views(6): sorted by name
    val views = msgs(reg, 6)
    val specs = views.map(v => msg1(v, 1)) // FeatureView.spec(1)
    assert(specs.map(str(_, 1)) == Vector("a_rate", "b_trips"))
    assert(specs.forall(s => str(s, 2) == "proj"))
    assert(specs.forall(s => int(s, 8) == 1L)) // online = true

    val b = specs(1)
    assert(strs(b, 3) == Vector("driver", "customer")) // entity names, view order
    val feats = msgs(b, 4)
    assert(feats.map(str(_, 1)) == Vector("trips", "embedding"))
    assert(feats.map(int(_, 2)) == Vector(3L, 16L)) // INT32, FLOAT_LIST = 6+10
    assert(int(msg1(b, 6), 1) == 86400L) // ttl Duration.seconds

    // batch_source(7): DataSource
    val src = msg1(b, 7)
    assert(int(src, 1) == 1L) // SourceType.BATCH_FILE
    val mapping = msgs(src, 2).map(e => str(e, 1) -> str(e, 2))
    assert(mapping == Vector("e" -> "embedding", "raw_trips" -> "trips")) // key-sorted
    assert(str(src, 3) == "event_timestamp")
    assert(str(src, 4) == "date")
    assert(str(src, 5) == "created")
    val fileOpts = msg1(src, 11)
    assert(str(fileOpts, 2) == "file:///data/trips.parquet")
    // FileFormat{parquet_format{}}: empty messages, but PRESENT on the wire
    val fileFormat = msg1(fileOpts, 1)
    assert(msg1(fileFormat, 1).isEmpty)

    // meta(2).materialization_intervals(3): Timestamp pairs incl. nanos
    val meta = msg1(views(1), 2)
    val iv = msg1(meta, 3)
    assert(int(msg1(iv, 1), 1) == lo.getEpochSecond)
    assert(int(msg1(iv, 2), 1) == hi.getEpochSecond)
    assert(int(msg1(iv, 2), 2) == 500L)
    // a_rate materialized nothing: meta present but empty
    assert(msg1(views(0), 2).isEmpty)
  }

  test("proto3 default omission: no ttl / mapping / created column / last_updated") {
    val bytes = RegistryProto.registryBytes(Seq(viewA))
    val reg = decode(bytes)
    assert(!reg.contains(5)) // last_updated at EPOCH sentinel omitted
    val spec = msg1(msgs(reg, 6).head, 1)
    assert(!spec.contains(6)) // no ttl
    val src = msg1(spec, 7)
    assert(!src.contains(2) && !src.contains(4) && !src.contains(5))
    assert(str(src, 3) == "ts")
    // default project name
    assert(str(msg1(msgs(reg, 1).head, 1), 9) == "default")
  }

  test("conflicting entity redefinitions fail; extension list types export INVALID") {
    // two views declaring 'driver' with different value types must not
    // silently export whichever sorts first
    val conflicting = viewA.copy(name = "zz",
      entities = Seq(Entity("driver", ValueType.STRING, joinKey = Some("driver_id"))))
    val e = intercept[IllegalArgumentException](
      RegistryProto.registryBytes(Seq(viewA, conflicting)))
    assert(e.getMessage.contains("conflicting"))
    // list-of-map is an engine extension with no reference enum arm:
    // INVALID(0), never the undefined number 10
    assert(RegistryProto.valueTypeEnum(
      ValueType.ListOf(ValueType.MapOf(ValueType.STRING, ValueType.INT32))) == 0)
  }

  test("deterministic and content-addressed: same views same bytes, changed views new version_id") {
    val a1 = RegistryProto.registryBytes(Seq(viewB, viewA))
    val a2 = RegistryProto.registryBytes(Seq(viewA, viewB)) // order-independent
    assert(java.util.Arrays.equals(a1, a2))
    val changed = RegistryProto.registryBytes(
      Seq(viewA, viewB.copy(ttlSeconds = Some(3600L))))
    assert(str(decode(a1), 4) != str(decode(changed), 4))
    assert(str(decode(RegistryProto.registryBytes(
      Seq(viewA), versionId = Some("pinned"))), 4) == "pinned")
  }

  test("export: applied registry + checkpointed intervals round-trip through the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_regproto").toString
    val reg = new Registry(spark, s"$dir/registry.json")
    reg.apply(Seq(viewA, viewB))
    // a backfill commit into the view's table records its interval
    SnapshotTable(reg.tablePath("b_trips")).commit(spark.range(1).toDF("k"), completes = Some(
      Interval(Instant.parse("2021-06-01T00:00:00Z").toEpochMilli,
        Instant.parse("2021-06-02T00:00:00Z").toEpochMilli)))
    val out = s"$dir/registry.db"
    RegistryProto.exportTo(reg, out, project = "proj")
    val decoded = decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)))
    val specs = msgs(decoded, 6).map(v => msg1(v, 1))
    assert(specs.map(str(_, 1)) == Vector("a_rate", "b_trips"))
    // the manifest's interval surfaces in the exported meta
    val meta = msg1(msgs(decoded, 6)(1), 2)
    assert(int(msg1(msg1(meta, 3), 1), 1) ==
      Instant.parse("2021-06-01T00:00:00Z").getEpochSecond)

    // CLI wiring: `export-registry` produces the same message shape (plus a
    // real last_updated timestamp, since the CLI stamps now())
    val cliOut = s"$dir/registry_cli.db"
    graft.Main.run(spark, List("export-registry", s"$dir/registry.json", cliOut, "proj"))
    val cli = decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cliOut)))
    assert(msgs(cli, 6).map(v => str(msg1(v, 1), 1)) == Vector("a_rate", "b_trips"))
    assert(int(msg1(cli, 5), 1) > 0L)
  }
}

/** The spec's independent proto3 reader, shared with the other specs that
  * decode an export.
  */
object RegistryProtoSpec {
  // ---- independent minimal proto3 reader ---------------------------------
  /** One decoded field occurrence: Left = varint (wire type 0),
    * Right = length-delimited payload (wire type 2).
    */
  type FieldVal = Either[Long, Array[Byte]]

  /** Decode one message level: field number -> occurrences in wire order. */
  def decode(b: Array[Byte]): Map[Int, Vector[FieldVal]] = {
    var i = 0
    def varint(): Long = {
      var shift = 0; var acc = 0L; var more = true
      while (more) {
        val byte = b(i) & 0xff; i += 1
        acc |= (byte & 0x7fL) << shift; shift += 7
        more = (byte & 0x80) != 0
      }
      acc
    }
    var fields = Map.empty[Int, Vector[FieldVal]]
    while (i < b.length) {
      val tag = varint()
      val field = (tag >>> 3).toInt
      val v: FieldVal = (tag & 7L) match {
        case 0L => Left(varint())
        case 2L =>
          val len = varint().toInt
          val payload = java.util.Arrays.copyOfRange(b, i, i + len)
          i += len
          Right(payload)
        case wt => throw new AssertionError(s"unexpected wire type $wt for field $field")
      }
      fields = fields.updated(field, fields.getOrElse(field, Vector.empty) :+ v)
    }
    fields
  }

  def msgs(m: Map[Int, Vector[FieldVal]], f: Int): Vector[Map[Int, Vector[FieldVal]]] =
    m.getOrElse(f, Vector.empty).map(v => decode(v.toOption.get))
  def msg1(m: Map[Int, Vector[FieldVal]], f: Int): Map[Int, Vector[FieldVal]] = {
    val all = msgs(m, f); assert(all.size == 1, s"field $f: expected 1 message"); all.head
  }
  def str(m: Map[Int, Vector[FieldVal]], f: Int): String =
    m.get(f) match {
      case None => ""
      case Some(Vector(Right(bytes))) => new String(bytes, "UTF-8")
      case other => throw new AssertionError(s"field $f: expected one string, got $other")
    }
  def strs(m: Map[Int, Vector[FieldVal]], f: Int): Vector[String] =
    m.getOrElse(f, Vector.empty).map(v => new String(v.toOption.get, "UTF-8"))
  def int(m: Map[Int, Vector[FieldVal]], f: Int): Long =
    m.get(f) match {
      case None => 0L // proto3: absent scalar reads as default
      case Some(Vector(Left(v))) => v
      case other => throw new AssertionError(s"field $f: expected one varint, got $other")
    }
}
