package graft.types

import java.io.ByteArrayOutputStream

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Port of the reference's type-bridge matrix
  * (AllFieldTypesTest.scala:13-196): enum round-trip, nullable-string
  * unions with field-drop->nil, all primitives + arrays round-trip through
  * real binary Avro, multi-branch union runtime resolution, and the
  * unresolvable-union error. Every value goes through the column
  * expressions a query plan runs ([[AvroBridge.decodeAvro]] /
  * [[AvroBridge.encodeAvro]]) and every Avro body is written or read by
  * Avro's own GenericDatumWriter/GenericDatumReader (the reference's
  * `reserializeObj` discipline, TestUtils.scala:53-69). */
class AvroBridgeSpec extends SparkSpecBase {

  private def parse(s: String) = new Schema.Parser().parse(s)

  private def write(rec: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](rec.getSchema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def read(bytes: Array[Byte], schema: Schema): GenericRecord =
    new GenericDatumReader[GenericRecord](schema)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null))

  /** Avro bodies -> a frame whose `value` column is their decoded struct. */
  private def decode(schema: Schema, bodies: Array[Byte]*): DataFrame =
    spark.createDataFrame(bodies.map(b => Row(b)).asJava,
        StructType(Seq(StructField("value", BinaryType))))
      .select(AvroBridge.decodeAvro(col("value"), schema).as("value"))

  /** Encode the struct `value` under `schema` and read the body back. */
  private def encode(value: Column, schema: Schema): GenericRecord =
    encode(spark.range(1).select(value.as("value")), schema)

  private def encode(df: DataFrame, schema: Schema): GenericRecord =
    read(df.select(AvroBridge.encodeAvro(col("value"), schema)).head().getAs[Array[Byte]](0),
      schema)

  /** The `T` that `f` fails with, however Spark wraps it. */
  private def failure[T <: Throwable](f: => Any)(implicit ct: ClassTag[T]): T = {
    val e = intercept[Throwable](f)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst { case t: T => t }
      .getOrElse(fail(s"expected a ${ct.runtimeClass.getName}, got $e"))
  }

  // all-primitives + arrays record (AllFieldTypesTest.scala:60-71 shape)
  private val allTypes = parse("""
    {"type":"record","name":"t","fields":[
      {"name":"boolean","type":"boolean"},
      {"name":"int","type":"int"},
      {"name":"long","type":"long"},
      {"name":"float","type":"float"},
      {"name":"double","type":"double"},
      {"name":"string","type":"string"},
      {"name":"strings","type":{"type":"array","items":"string"}},
      {"name":"bananas","type":{"type":"array","items":
        {"type":"record","name":"banana","fields":[
          {"name":"color","type":"string"},
          {"name":"weight","type":"float"}]}}}]}""")

  test("schema conversion: primitives, arrays, nested records") {
    val st = AvroBridge.toSqlType(allTypes).asInstanceOf[StructType]
    assert(st("boolean").dataType == BooleanType)
    assert(st("int").dataType == IntegerType)
    assert(st("long").dataType == LongType)
    assert(st("float").dataType == FloatType)
    assert(st("double").dataType == DoubleType)
    assert(st("string").dataType == StringType)
    assert(st("strings").dataType == ArrayType(StringType, containsNull = false))
    assert(st("bananas").dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType])
  }

  test("schema conversion: nullable union fast path + struct-of-members") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"optstring","type":["null","string"]},
        {"name":"multi","type":["null","boolean","int","long","float","double","string"]}]}""")
    val st = AvroBridge.toSqlType(s).asInstanceOf[StructType]
    assert(st("optstring").dataType == StringType && st("optstring").nullable)
    val multi = st("multi").dataType.asInstanceOf[StructType]
    assert(multi.fieldNames.toSeq == (0 to 5).map(i => s"member$i"))
    assert(st("multi").nullable)
  }

  test("row round-trip through real binary avro: all field types") {
    val rec = new GenericData.Record(allTypes)
    rec.put("boolean", true); rec.put("int", 42); rec.put("long", 42L)
    rec.put("float", 1.5f); rec.put("double", 2.5d); rec.put("string", "s")
    rec.put("strings", java.util.Arrays.asList("a", "b"))
    val b = new GenericData.Record(allTypes.getField("bananas").schema().getElementType)
    b.put("color", "yellow"); b.put("weight", 0.3f)
    rec.put("bananas", java.util.Arrays.asList(b))
    val bytes = write(rec)

    val decoded = decode(allTypes, bytes)
    assert(decoded.head().getStruct(0) == Row(true, 42, 42L, 1.5f, 2.5d, "s",
      Seq("a", "b"), Seq(Row("yellow", 0.3f))))
    // back: struct -> encodeAvro -> the same bytes Avro's writer produced
    val back = decoded.select(AvroBridge.encodeAvro(col("value"), allTypes))
      .head().getAs[Array[Byte]](0)
    assert(back.sameElements(bytes))
  }

  test("enum round-trips; invalid symbol rejected (AllFieldTypesTest:13-29)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"queue","type":{"type":"enum","name":"MessageQueue",
          "symbols":["Kafka","ZeroMQ","NATS","Other"]}}]}""")
    val rec = new GenericData.Record(s)
    rec.put("queue", new GenericData.EnumSymbol(s.getField("queue").schema(), "Kafka"))
    assert(decode(s, write(rec)).head().getStruct(0) == Row("Kafka"))
    assert(encode(struct(lit("NATS").as("queue")), s).get("queue").toString == "NATS")
    val e = failure[IllegalArgumentException](encode(struct(lit("RabbitMQ").as("queue")), s))
    assert(e.getMessage.contains("RabbitMQ"))
  }

  test("output projection: missing field -> null, extra dropped (AllFieldTypesTest:31-57)") {
    // input has optstring0+mandstring; output schema adds optstring1
    val out = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"optstring0","type":["null","string"]},
        {"name":"optstring1","type":["null","string"]},
        {"name":"mandstring","type":"string"}]}""")
    val rec = encode(struct(lit("keep").as("optstring0"), lit("mand").as("mandstring"),
      lit("extra-dropped").as("ignored")), out)
    assert(rec.get("optstring0").toString == "keep")
    assert(rec.get("optstring1") == null) // "this makes optstring1 nil"
    assert(rec.get("mandstring").toString == "mand")
  }

  test("7-way union: runtime type picks the branch (AllFieldTypesTest:125-174)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"a","type":["null","boolean","int","long","float","double","string"]}]}""")
    val rec = new GenericData.Record(s)
    rec.put("a", 42L)
    // decode side: the value lands in the right member slot
    val decoded = decode(s, write(rec))
    assert(decoded.head().getStruct(0).getStruct(0) == Row(null, null, 42L, null, null, null))
    // the member struct encodes back through its one non-null member
    assert(encode(decoded, s).get("a") == 42L)
    // a plain value against the union: its Spark type picks the branch
    assert(encode(struct(lit(42L).as("a")), s).get("a").isInstanceOf[java.lang.Long])
    assert(encode(struct(lit(7).as("a")), s).get("a") == Integer.valueOf(7))
    assert(encode(struct(lit(true).as("a")), s).get("a") == true)
    assert(encode(struct(lit(0.5f).as("a")), s).get("a") == java.lang.Float.valueOf(0.5f))
    assert(encode(struct(lit(0.5d).as("a")), s).get("a") == java.lang.Double.valueOf(0.5d))
    assert(encode(struct(lit("x").as("a")), s).get("a").toString == "x")
    assert(encode(struct(lit(null).cast(StringType).as("a")), s).get("a") == null)
  }

  test("unresolvable union throws (AllFieldTypesTest:176-196)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"a","type":["int","string"]}]}""")
    // both members null, and the union has no null branch
    failure[UnresolvedUnionException](encode(struct(struct(
      lit(null).cast(IntegerType).as("member0"),
      lit(null).cast(StringType).as("member1")).as("a")), s))
    // a plain value of a type no branch takes
    failure[UnresolvedUnionException](encode(struct(lit(true).as("a")), s))
  }

  test("fixed values are length-validated eagerly (GenericData.Fixed " +
      "itself checks nothing; the writer would silently truncate)") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"fx","type":{"type":"fixed","name":"Fx","size":4}}]}""")
    def fx(bytes: Array[Byte]) = encode(struct(lit(bytes).as("fx")), s)
    // exact size passes
    assert(fx(Array[Byte](1, 2, 3, 4)).get("fx").asInstanceOf[GenericData.Fixed]
      .bytes().sameElements(Array[Byte](1, 2, 3, 4)))
    // long input must throw, not silently truncate to 4 bytes on the wire
    val e = failure[IllegalArgumentException](fx(Array.fill[Byte](16)(0)))
    assert(e.getMessage.contains("4"))
    // short input: would AIOOBE deep in the encoder
    failure[IllegalArgumentException](fx(Array[Byte](1, 2)))
  }

  test("plain record Row against a multi-record union dispatches by " +
      "field-name coverage, not first-branch-wins") {
    val s = parse("""
      {"type":"record","name":"t","fields":[
        {"name":"u","type":["null",
          {"type":"record","name":"RecA","fields":[
            {"name":"a","type":["null","long"]}]},
          {"type":"record","name":"RecB","fields":[
            {"name":"b","type":"string"}]}]}]}""")
    def u(value: Column) = encode(struct(value.as("u")), s).get("u").asInstanceOf[GenericRecord]
    // a struct carrying field "b" — NOT member0/member1 shaped — must bind
    // to RecB; first-match would bind RecA and null-project "b" away
    val b = u(struct(lit("hello").as("b")))
    assert(b.getSchema.getName == "RecB" && b.get("b").toString == "hello")
    // no branch declares "x": the tie goes to the first record branch
    val a = u(struct(lit(1).as("x")))
    assert(a.getSchema.getName == "RecA" && a.get("a") == null)
    // the member-struct convention still routes positionally
    val members = AvroBridge.toSqlType(s).asInstanceOf[StructType]("u")
      .dataType.asInstanceOf[StructType]
    val m = u(struct(lit(null).cast(members("member0").dataType).as("member0"),
      struct(lit("m").as("b")).as("member1")))
    assert(m.getSchema.getName == "RecB" && m.get("b").toString == "m")
  }

  test("column-level decode/encode: from_avro/to_avro analogues") {
    val rec = new GenericData.Record(allTypes)
    rec.put("boolean", false); rec.put("int", 7); rec.put("long", 9L)
    rec.put("float", 0.5f); rec.put("double", 0.25d); rec.put("string", "xyz")
    rec.put("strings", java.util.Arrays.asList("q"))
    rec.put("bananas", java.util.Collections.emptyList[Any]())

    val decoded = decode(allTypes, write(rec))
    val row = decoded.head().getStruct(0)
    assert(row.getInt(1) == 7 && row.getString(5) == "xyz")

    // encode back and decode again: full wire round-trip in the plan
    val reencoded = decoded.select(AvroBridge.encodeAvro(col("value"), allTypes).as("value"))
      .select(AvroBridge.decodeAvro(col("value"), allTypes).as("value"))
    assert(reencoded.head().getStruct(0) == row)
  }
}
