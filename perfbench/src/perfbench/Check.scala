package perfbench

import java.io.{BufferedInputStream, DataInputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.apache.spark.sql.{Row, SparkSession}

/** Output checks, independent of the program's serde: sink records are
  * decoded with `org.apache.avro`'s GenericDatumReader and compared with
  * what the generator recorded. */
object Check {

  final case class Result(correct: Boolean, failed: Long, kept: Long,
      notes: Seq[(String, String)])

  /** Decode every sink record, then compare the multiset of record
    * hashes with the generator's: record count, checksum and drop count
    * must all match. `failed` counts records that are missing, wrong or
    * undecodable. */
  def lane(spark: SparkSession, sink: Path, gen: Path, manifest: JsonNode): Result = {
    val schemaJson = new String(Files.readAllBytes(Paths.get(Wire.OutputSchema)), UTF_8)
    val bad = spark.sparkContext.longAccumulator("undecodable")
    val actual = spark.read.parquet(sink.toString).rdd.mapPartitions { rows =>
      val schema = new Schema.Parser().parse(schemaJson)
      val reader = new GenericDatumReader[GenericRecord](schema)
      var dec: BinaryDecoder = null
      rows.flatMap { row =>
        val key = row.getAs[Array[Byte]]("key")
        val value = row.getAs[Array[Byte]]("value")
        try {
          require(key != null && key.length == 8, "key is not an 8-byte long")
          require(value != null && value.length > 5 && value(0) == 0 &&
            ByteBuffer.wrap(value, 1, 4).getInt == Wire.OutSchemaId,
            "output frame lacks the Confluent header with the output schema id")
          dec = DecoderFactory.get().binaryDecoder(value, 5, value.length - 5, dec)
          val r = reader.read(null, dec)
          require(dec.isEnd, "trailing bytes after the Avro body")
          Some(Wire.hash(Wire.avroRecord(ByteBuffer.wrap(key).getLong,
            r.get("valid").asInstanceOf[Boolean], r.get("name").toString,
            r.get("fingers").asInstanceOf[Long])))
        } catch { case _: Exception => bad.add(1); None }
      }
    }.collect().sorted

    val expected = readLongs(gen.resolve("expected.bin"))
    var (i, j, matched) = (0, 0, 0L)
    while (i < expected.length && j < actual.length) {
      if (expected(i) == actual(j)) { matched += 1; i += 1; j += 1 }
      else if (expected(i) < actual(j)) i += 1
      else j += 1
    }
    val records = manifest.get("records").asLong
    val kept = manifest.get("kept").asLong
    val output = actual.length + bad.value
    val drops = Wire.Reasons.map(r => r -> manifest.get("drops").get(r).asLong)
    val missing = expected.length - matched
    val extra = output - matched
    val checksum = actual.sum
    val correct = missing == 0 && extra == 0 && output == kept &&
      checksum == manifest.get("checksum").asLong &&
      records - output == drops.map(_._2).sum
    Result(correct, math.max(missing, extra), actual.length.toLong, Seq(
      "output_records" -> output.toString, "expected_records" -> kept.toString,
      "undecodable" -> bad.value.toString,
      "dropped" -> (records - output).toString,
      "drops_expected" -> Json.obj(drops.map { case (k, v) => k -> v.toString }: _*),
      "checksum_ok" -> (checksum == manifest.get("checksum").asLong).toString))
  }

  /** A copy of the sink with one byte of one record's value flipped. */
  def corrupt(spark: SparkSession, sink: Path, to: Path): Path = {
    Harness.deleteTree(to)
    val df = spark.read.parquet(sink.toString)
    val damaged = df.rdd.mapPartitionsWithIndex { (part, rows) =>
      if (part != 0) rows
      else rows.zipWithIndex.map { case (row, i) =>
        if (i != 0) row
        else {
          val v = row.getAs[Array[Byte]]("value").clone()
          v(v.length - 1) = (v(v.length - 1) ^ 0x02).toByte
          Row(row.getAs[Array[Byte]]("key"), v)
        }
      }
    }
    spark.createDataFrame(damaged, df.schema).write.parquet(to.toString)
    to
  }

  def readLongs(path: Path): Array[Long] = {
    val n = (Files.size(path) / 8).toInt
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path), 1 << 16))
    try Array.fill(n)(in.readLong()) finally in.close()
  }
}
