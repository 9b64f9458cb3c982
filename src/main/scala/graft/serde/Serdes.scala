package graft.serde

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType => SqlStringType}

import graft.functions.BinaryCodec
import graft.types.AvroBridge

/** The reference's serde declaration surface: CLI `-d`/`-s` take
  * `"keytype,valuetype"` (or just `"valuetype"`, key defaulting to void)
  * where each type is `long | string | void | avro[=schema.avsc]`
  * (reference: TypeConversions.scala:12-28, 42-51).
  *
  * Spark-first re-expression: a serde is a pair of Column transforms on a
  * Kafka-shaped frame (`key: binary, value: binary`) — decode turns the
  * binary column into a typed column, encode turns a typed column back
  * into binary for the sink. All decode/encode paths are Catalyst
  * expressions (casts + codegen'd codecs), not per-record interpreters.
  */
sealed trait MappingType {
  /** binary column -> typed column (Kafka deserializer analogue). */
  def decode(c: Column): Column
  /** typed column -> binary column (Kafka serializer analogue). */
  def encode(c: Column): Column
}

/** Kafka LongSerde: 8-byte big-endian two's complement
  * (reference: TypeConversions.scala:13,32). */
case object LongMapping extends MappingType {
  def decode(c: Column): Column = BinaryCodec.binary_to_long(c)
  def encode(c: Column): Column = BinaryCodec.long_to_binary(c)
}

/** Kafka StringSerde: UTF-8 (reference: TypeConversions.scala:14,33). */
case object StringMapping extends MappingType {
  def decode(c: Column): Column = c.cast(SqlStringType)
  def encode(c: Column): Column = c.cast(org.apache.spark.sql.types.BinaryType)
}

/** Null key/value. The reference's serializer side is a TODO stub
  * (TypeConversions.scala:35); here void encodes to a null binary column
  * properly (reference: TypeConversions.scala:15,48;
  * StreamProcessOperations.scala:196). */
case object VoidMapping extends MappingType {
  def decode(c: Column): Column = lit(null)
  def encode(c: Column): Column =
    lit(null).cast(org.apache.spark.sql.types.BinaryType)
}

/** Avro with a schema from a local `.avsc` file (reference:
  * TypeConversions.scala:16,24-27,34). The no-schema variant (Confluent
  * Schema Registry lookup, GenericAvroSerializer.scala:29,53) requires a
  * live registry; offline parity requires the file form — see SURVEY §7.4
  * item 6. Decode/encode run plain binary Avro (no Confluent 5-byte
  * wire-format header; [[graft.functions.BinaryCodec.strip_confluent_header]]
  * handles registry-framed payloads when needed). */
final case class AvroMapping(schema: Schema) extends MappingType {
  def decode(c: Column): Column = AvroBridge.decodeAvro(c, schema)
  def encode(c: Column): Column = AvroBridge.encodeAvro(c, schema)
}

/** Registry-framed Avro: the Confluent wire format (magic 0x00 + 4-byte
  * big-endian schema id + Avro body — what the reference's
  * KafkaAvroDeserializer consumes, GenericAvroSerializer.scala:52-73)
  * with the schema bound STATICALLY to `schemaId`. Encode prepends the
  * 5-byte header (a plan-time literal concat); decode accepts only
  * frames carrying exactly this id — a live registry resolves ANY id to
  * its schema for reader-side evolution, but offline the static binding
  * makes an id mismatch a NULL (the engine's drop-record semantics)
  * instead of a misdecoded body. Declare as `avro=<file>@<id>`, or bind
  * from a registry snapshot via [[ConfluentAvroMapping.fromRegistry]].
  * All framing runs in codegen'd Column expressions; the registry is
  * never consulted per row. */
final case class ConfluentAvroMapping(schema: Schema, schemaId: Int)
    extends MappingType {
  def decode(c: Column): Column =
    // confluent_schema_id is null unless the frame is >= 5 bytes with
    // magic 0x00, so the branch takes the body without re-checking them
    AvroBridge.decodeAvro(
      when(BinaryCodec.confluent_schema_id(c) === lit(schemaId.toLong),
        substring(c, 6, Int.MaxValue)),
      schema)
  def encode(c: Column): Column =
    BinaryCodec.add_confluent_header(
      AvroBridge.encodeAvro(c, schema), schemaId)
}

object ConfluentAvroMapping {
  /** Bind id `schemaId` from a registry snapshot; fails at construction
    * (plan time) when the id is unknown. */
  def fromRegistry(registry: SchemaRegistryClient,
      schemaId: Int): ConfluentAvroMapping =
    ConfluentAvroMapping(
      registry.schemaById(schemaId).getOrElse(throw new IllegalArgumentException(
        s"schema id $schemaId not in registry")),
      schemaId)
}

object MappingType {
  /** Parse one serde declaration (reference: MappingType.fromString,
    * TypeConversions.scala:21-28). */
  def fromString(s: String): MappingType = s.trim match {
    case "long"   => LongMapping
    case "string" => StringMapping
    case "void"   => VoidMapping
    case "avro"   => throw new IllegalArgumentException(
      "avro without =schema.avsc needs a live Schema Registry; offline " +
        "use avro=<file> (plain body) or avro=<file>@<id> " +
        "(Confluent wire format; SURVEY §7.4)")
    case a if a.startsWith("avro=") =>
      val spec = a.stripPrefix("avro=")
      // id suffix splits on the LAST '@' so paths containing '@' work
      spec.lastIndexOf('@') match {
        case at if at >= 0 && spec.drop(at + 1).toIntOption.isDefined =>
          ConfluentAvroMapping(
            new Schema.Parser().parse(new java.io.File(spec.take(at))),
            spec.drop(at + 1).toInt)
        case _ =>
          AvroMapping(new Schema.Parser().parse(new java.io.File(spec)))
      }
    case other => throw new IllegalArgumentException(
      s"unknown mapping type: $other (expected long|string|void|" +
        "avro=file|avro=file@id)")
  }
}

/** Key/value serde pair (reference: KeyValueType, TypeConversions.scala:18,
  * 42-51 — `"v"` means void key, `"k,v"` declares both). */
final case class KeyValueMapping(key: MappingType, value: MappingType) {
  /** Kafka-shaped frame (binary key/value) -> typed (key, value) frame. */
  def decode(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(
      key.decode(col("key")).as("key"),
      value.decode(col("value")).as("value"))
  /** Typed (key, value) frame -> Kafka-shaped binary frame. */
  def encode(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(
      key.encode(col("key")).as("key"),
      value.encode(col("value")).as("value"))
}

object KeyValueMapping {
  def fromString(s: String): KeyValueMapping = s.split(",").map(_.trim) match {
    case Array(v)    => KeyValueMapping(VoidMapping, MappingType.fromString(v))
    case Array(k, v) =>
      KeyValueMapping(MappingType.fromString(k), MappingType.fromString(v))
    case _ => throw new IllegalArgumentException(
      s"expected 'valuetype' or 'keytype,valuetype', got: $s")
  }
}
