package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data model re-creating the reference's abstractions
  * (Cimpress-MCP/feast: entity.py:30-59, feature.py:25-50,
  * feature_view.py:42-102, data_source.py:373-458) as plain case classes.
  * The proto value-type enum (protos/feast/types/Value.proto:26-46) maps onto
  * Spark types one-to-one; only one nesting level of lists exists
  * (type_map.py:154-159).
  */
sealed abstract class ValueType(val sparkType: DataType)
object ValueType {
  case object BYTES extends ValueType(BinaryType)
  case object STRING extends ValueType(StringType)
  case object INT32 extends ValueType(IntegerType)
  case object INT64 extends ValueType(LongType)
  case object FLOAT extends ValueType(FloatType)
  case object DOUBLE extends ValueType(DoubleType)
  case object BOOL extends ValueType(BooleanType)
  /** stored as int64 epoch seconds in the reference (type_map.py:312-313) */
  case object UNIX_TIMESTAMP extends ValueType(TimestampType)
  final case class ListOf(elem: ValueType) extends ValueType(ArrayType(elem.sparkType)) {
    require(!elem.isInstanceOf[ListOf], "only one list nesting level (type_map.py:154-159)")
  }
  /** Engine extension beyond the reference's proto enum: map-typed feature
    * payloads (Spark MapType is first-class). The facade routes them like
    * array/binary/struct features: the as-of window carries only a row id
    * and the map is fetched once after it ([[graft.pit.AsOfJoin.fetch]]).
    */
  final case class MapOf(key: ValueType, value: ValueType)
    extends ValueType(MapType(key.sparkType, value.sparkType))
  /** Proto-enum-style name ("INT32", "FLOAT_LIST", ... — Value.proto:26-46).
    * The MapOf engine extension uses bracket syntax "MAP<K,V>" — the earlier
    * underscore form was AMBIGUOUS ("MAP_STRING_FLOAT_LIST" parsed as
    * list-of-map, and multi-token scalar names like UNIX_TIMESTAMP could not
    * be split back at all), which silently corrupted or bricked registry
    * load for map-typed features.
    */
  def name(vt: ValueType): String = vt match {
    case ListOf(e) => s"${name(e)}_LIST"
    case MapOf(k, v) => s"MAP<${name(k)},${name(v)}>"
    case other => other.toString
  }

  def fromName(s: String): ValueType =
    if (s.startsWith("MAP<") && s.endsWith(">")) {
      val inner = s.substring(4, s.length - 1)
      // split at the single depth-0 comma (values may nest MAP<...>)
      var depth = 0
      var cut = -1
      var i = 0
      while (i < inner.length && cut < 0) {
        inner.charAt(i) match {
          case '<' => depth += 1
          case '>' => depth -= 1
          case ',' if depth == 0 => cut = i
          case _ =>
        }
        i += 1
      }
      require(cut > 0, s"malformed map type name '$s'")
      MapOf(fromName(inner.substring(0, cut)), fromName(inner.substring(cut + 1)))
    }
    else if (s.endsWith("_LIST")) ListOf(fromName(s.stripSuffix("_LIST")))
    else s match {
      case "BYTES" => BYTES
      case "STRING" => STRING
      case "INT32" => INT32
      case "INT64" => INT64
      case "FLOAT" => FLOAT
      case "DOUBLE" => DOUBLE
      case "BOOL" => BOOL
      case "UNIX_TIMESTAMP" => UNIX_TIMESTAMP
      case other => throw new IllegalArgumentException(s"unknown value type '$other'")
    }

  /** Infer a ValueType from a Spark column type (inference.py:12-59). */
  def fromSpark(dt: DataType): ValueType = dt match {
    case BinaryType => BYTES
    case StringType => STRING
    case IntegerType | ShortType | ByteType => INT32
    case LongType => INT64
    case FloatType => FLOAT
    case DoubleType => DOUBLE
    case BooleanType => BOOL
    case TimestampType => UNIX_TIMESTAMP
    case ArrayType(e, _) => ListOf(fromSpark(e))
    case MapType(k, v, _) => MapOf(fromSpark(k), fromSpark(v))
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }
}

/** Named join key (entity.py:30-59; join_key defaults to the name). */
final case class Entity(name: String, valueType: ValueType, joinKey: Option[String] = None) {
  def key: String = joinKey.getOrElse(name)
}

final case class Feature(name: String, valueType: ValueType)

/** Batch source descriptor (data_source.py:560-667 FileSource): a path plus
  * timestamp columns and an optional src→dst field mapping applied at read.
  */
final case class BatchSource(
    path: String,
    eventTimestampColumn: String,
    createdTimestampColumn: Option[String] = None,
    fieldMapping: Map[String, String] = Map.empty,
    datePartitionColumn: Option[String] = None)

/** Scalar/array field types for the registry-level protobuf message
  * descriptor (the engine's stand-in for the reference's compiled message
  * class, data_format.py:109-133 ProtoFormat). Wire-format mapping follows
  * the public protobuf encoding spec: varint (wire type 0), fixed 64/32
  * (1/5), length-delimited (2).
  */
sealed trait ProtoType
object ProtoType {
  case object Int32 extends ProtoType // varint
  case object Int64 extends ProtoType // varint
  case object SInt32 extends ProtoType // varint, zigzag
  case object SInt64 extends ProtoType // varint, zigzag
  case object Bool extends ProtoType // varint
  case object Fixed64 extends ProtoType // 8-byte LE
  case object DoubleT extends ProtoType // 8-byte LE
  case object Fixed32 extends ProtoType // 4-byte LE
  case object FloatT extends ProtoType // 4-byte LE
  case object StringT extends ProtoType // length-delimited UTF-8
  case object BytesT extends ProtoType // length-delimited
  case object RepInt32 extends ProtoType // repeated int32, packed or not
  case object RepInt64 extends ProtoType // repeated int64, packed or not
}

/** One field of a flat proto message: tag number, output column name, type. */
final case class ProtoField(number: Int, name: String, ptype: ProtoType)

/** Payload format of a stream source (data_format.py:69-133 StreamFormat:
  * Avro/Proto/Json). Json and Csv decode with built-in `from_json` /
  * `from_csv`; Avro decodes on the core avro library
  * ([[graft.streaming.AvroDecode]] — the spark-avro connector is not in
  * this offline build); Proto decodes with a from-scratch wire-format
  * reader ([[graft.streaming.ProtoDecode]]) driven by a declared
  * [[ProtoField]] descriptor — the registry carries the format metadata,
  * ingestion does the decode, the same boundary the reference draws.
  */
sealed trait StreamFormat
object StreamFormat {
  final case class Json(schema: org.apache.spark.sql.types.StructType) extends StreamFormat
  final case class Csv(schema: org.apache.spark.sql.types.StructType) extends StreamFormat
  final case class Avro(schemaJson: String) extends StreamFormat
  /** Proto message descriptor: `messageClass` is registry metadata (parity
    * with the reference's ProtoFormat class name); `fields` drives the
    * wire-format decode. With no declared fields decoding raises — that is
    * the seam where a compiled-class runtime (spark-protobuf
    * `from_protobuf`) would plug in on a cluster that ships it.
    */
  final case class Proto(messageClass: String, fields: Seq[ProtoField] = Nil) extends StreamFormat
}

/** Stream source descriptor (data_source.py:783-914 KafkaSource /
  * KinesisSource): transport coordinates are registry metadata (no broker
  * exists in this sandbox); the payload contract — format + timestamp
  * column + field mapping — drives [[graft.streaming.StreamFeatures.decode]]
  * over any raw stream with the Kafka wire shape (a binary/string `value`
  * column).
  */
final case class StreamSource(
    topic: String,
    bootstrapServers: String,
    format: StreamFormat,
    eventTimestampColumn: String,
    createdTimestampColumn: Option[String] = None,
    fieldMapping: Map[String, String] = Map.empty)

/** Logical feature group over one source (feature_view.py:42-102).
  * ttl = as-of join tolerance / max_age, in seconds; None = unbounded
  * lookback (feature_view.py:233-238, bigquery.py:597).
  */
final case class FeatureView(
    name: String,
    entities: Seq[Entity],
    features: Seq[Feature],
    source: BatchSource,
    ttlSeconds: Option[Long] = None) {
  def joinKeys: Seq[String] = entities.map(_.key)
}

object FieldMapping {
  /** Forward field mapping: rename source columns to feature names
    * (provider.py:251-260 `_run_field_mapping`). Non-mapped columns pass
    * through unchanged; pure projection, zero cost under Catalyst.
    */
  def apply(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(mapping.getOrElse(c, c))).toSeq: _*)
}

/** Schema-driven inference, re-creating the reference's rules
  * (inference.py:12-118, feature_view.py:262-294): event-timestamp column
  * detection, feature-list inference from a source schema, and entity value
  * types from their key columns.
  */
object Inference {
  import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.model.Inference")

  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** The event timestamp column: the column literally named
    * `event_timestamp` if present (provider default, inference.py:71-77),
    * else the UNIQUE timestamp-typed column; ambiguity or absence is an
    * error (inference.py:62-118 raises the same way).
    */
  def eventTimestampColumn(schema: StructType): String = {
    // name takes priority (reference behavior) — a STRING event_timestamp
    // is legal input, normalized by Timestamps.normalizeUtc. A column NAMED
    // event_timestamp with an unusable type is an ERROR, never a silent
    // redirect to some other timestamp column (that would key the as-of
    // join on the wrong column with no warning).
    schema.fields.find(_.name == "event_timestamp")
      .map { f =>
        require(isTimestamp(f.dataType) || f.dataType == StringType,
          s"column 'event_timestamp' has type ${f.dataType.simpleString}; " +
            "expected timestamp or a parseable string")
        f.name
      }
      .getOrElse {
        schema.fields.filter(f => isTimestamp(f.dataType)) match {
          case Array(one) => one.name
          case Array() => throw new IllegalArgumentException(
            "no timestamp-typed column to use as event_timestamp")
          case many => throw new IllegalArgumentException(
            s"ambiguous event timestamp: ${many.map(_.name).mkString(", ")}")
        }
      }
  }

  /** Features inferred from the source schema: every column except entity
    * join keys, timestamp columns, `__`-prefixed internals, and columns
    * whose Spark type has no ValueType mapping — a date partition column
    * (DateType) or a decimal metric must not make the whole view
    * un-applyable when the user only wants the mappable columns
    * (feature_view.py:262-294). Skipping is loud: one WARN names every
    * skipped column and its Spark type.
    */
  def features(schema: StructType, entityKeys: Set[String]): Seq[Feature] = {
    val mapped = schema.fields.toSeq
      .filterNot(f => entityKeys.contains(f.name))
      .filterNot(f => isTimestamp(f.dataType))
      .filterNot(_.name.startsWith("__"))
      .map(f => f -> scala.util.Try(ValueType.fromSpark(f.dataType)).toOption)
    val skipped = mapped.collect { case (f, None) => s"${f.name} (${f.dataType.simpleString})" }
    if (skipped.nonEmpty)
      log.warn("feature inference skipped columns with no ValueType mapping: " +
        skipped.mkString(", "))
    mapped.collect { case (f, Some(vt)) => Feature(f.name, vt) }
  }

  /** Entity value type from its join-key column (inference.py:12-59). */
  def entityType(schema: StructType, joinKey: String): ValueType =
    ValueType.fromSpark(
      schema.fields.find(_.name == joinKey)
        .getOrElse(throw new IllegalArgumentException(s"no column '$joinKey'"))
        .dataType)
}

/** Feature reference "view:feature" resolution + duplicate-output validation
  * (feature_store.py:636-681).
  */
object FeatureRefs {
  final case class Ref(view: String, feature: String)

  def parse(refs: Seq[String]): Seq[Ref] = refs.map { r =>
    r.split(":") match {
      case Array(v, f) => Ref(v, f)
      case _ => throw new IllegalArgumentException(
        s"feature ref '$r' must look like 'view:feature'")
    }
  }

  /** Group refs per view, erroring on unknown views and (when
    * fullFeatureNames=false) colliding output names.
    */
  def group(
      refs: Seq[Ref],
      views: Map[String, FeatureView],
      fullFeatureNames: Boolean): Map[FeatureView, Seq[String]] = {
    refs.foreach { r =>
      val v = views.getOrElse(r.view, throw new IllegalArgumentException(
        s"feature view '${r.view}' not found"))
      require(v.features.exists(_.name == r.feature),
        s"feature '${r.feature}' not in view '${r.view}'")
    }
    if (!fullFeatureNames) {
      val dup = refs.groupBy(_.feature).filter(_._2.size > 1).keys
      require(dup.isEmpty,
        s"duplicate output feature name(s) ${dup.mkString(", ")}; use fullFeatureNames")
    }
    refs.groupBy(_.view).map { case (v, rs) => views(v) -> rs.map(_.feature) }
  }

  /** `view__feature` output naming (file.py:136-151). */
  def outputName(view: String, feature: String, full: Boolean): String =
    if (full) s"${view}__$feature" else feature
}
