package graft.runtime

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Row, SparkSessionExtensions}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.SparkSpecBase
import graft.pipeline.Pipeline
import graft.serde.KeyValueMapping

/** The calls the plumber stream benchmark (`perfbench/src/perfbench/
  * Lane.scala`) makes into the program, with the types it relies on,
  * run on a few hundred Confluent-framed records. A signature break
  * then fails `sbt test`, not only the benchmark build. */
class BenchSurfaceSpec extends SparkSpecBase {

  private def schema(path: String) = new Schema.Parser().parse(new java.io.File(path))

  test("plumber lane surface: parseFile -> GoldenFile.verify -> decode -> " +
      "compile -> encode, output readable by Avro's own reader") {
    // the lane's session installs the program's extensions this way
    val extensions: SparkSessionExtensions => Unit = new GraftExtensions
    extensions(new SparkSessionExtensions)

    val dir = Files.createTempDirectory("graft-lane")
    val script = dir.resolve("plumb_avro.graft")
    Files.writeString(script, "filter value is not null\n" +
      Files.readString(Paths.get("examples/demo/pipeline.graft")))
    val pipeline: Pipeline = GraftScript.parseFile(script.toString)
    val verified: Either[String, Int] =
      GoldenFile.verify(spark, pipeline, "examples/demo/golden.json")
    assert(verified == Right(2))

    // Input frames, written with Avro's GenericDatumWriter: every tenth
    // has a bad magic byte, a foreign schema id or a truncated body, and
    // must drop.
    val in = schema("perfbench/schemas/undesired_props.avsc")
    val writer = new GenericDatumWriter[GenericRecord](in)
    val rnd = new scala.util.Random(7)
    val frames = (0 until 300).map { i =>
      val person = new GenericData.Record(in.getField("person").schema())
      person.put("name", rnd.alphanumeric.take(3 + rnd.nextInt(8)).mkString)
      person.put("species", "elf")
      val rec = new GenericData.Record(in)
      val (notValid, lh, rh) = (rnd.nextBoolean(), rnd.nextInt(6).toLong, rnd.nextInt(6).toLong)
      rec.put("redundantField", rnd.nextLong())
      rec.put("notValid", notValid)
      rec.put("fingers_lh", lh)
      rec.put("fingers_rh", rh)
      rec.put("person", person)
      rec.put("props", rnd.alphanumeric.take(40).mkString)
      val out = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      writer.write(rec, enc)
      enc.flush()
      val body = out.toByteArray
      val (magic, id, bytes) = i % 10 match {
        case 3 => (1, 1, body)
        case 6 => (0, 3, body)
        case 9 => (0, 1, body.dropRight(1))
        case _ => (0, 1, body)
      }
      val frame = ByteBuffer.allocate(5 + bytes.length).put(magic.toByte).putInt(id).put(bytes).array()
      val kept = Option.when(!Set(3, 6, 9)(i % 10))(
        (i.toLong, !notValid, person.get("name").toString.toLowerCase(java.util.Locale.ROOT), lh + rh))
      (Row(ByteBuffer.allocate(8).putLong(i.toLong).array(), frame), kept)
    }
    val src = dir.resolve("in").toString
    spark.createDataFrame(frames.map(_._1).asJava, StructType(Seq(
        StructField("key", BinaryType), StructField("value", BinaryType))))
      .repartition(4).write.parquet(src)

    val raw: DataFrame = spark.read.parquet(src)
    val decoded: DataFrame =
      KeyValueMapping.fromString("long,avro=perfbench/schemas/undesired_props.avsc@1").decode(raw)
    val encoded: DataFrame =
      KeyValueMapping.fromString("long,avro=examples/demo/desired.avsc@2")
        .encode(pipeline.compile(decoded))

    val outSchema = schema("examples/demo/desired.avsc")
    val reader = new GenericDatumReader[GenericRecord](outSchema)
    val got = encoded.collect().toSeq.map { r =>
      val frame = r.getAs[Array[Byte]](1)
      assert(frame.take(5).sameElements(Array[Byte](0, 0, 0, 0, 2)))
      val rec = reader.read(null,
        DecoderFactory.get().binaryDecoder(frame, 5, frame.length - 5, null))
      (ByteBuffer.wrap(r.getAs[Array[Byte]](0)).getLong, rec.get("valid"),
        rec.get("name").toString, rec.get("fingers"))
    }
    val expected = frames.flatMap(_._2)
    assert(expected.size == 210)
    assert(got.sortBy(_._1) == expected)

    val decodes = encoded.queryExecution.executedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case e if e.prettyName == "graft_from_avro" => e })
    assert(decodes.nonEmpty)
  }
}
