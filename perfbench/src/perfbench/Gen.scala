package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Input generator for the stream lane, run as its own process before
  * the harness so the program never shares a JVM with it and receives
  * only files. It writes, under one directory per (workload, seed,
  * size):
  *
  *  - `backlog/`: `batches * cpus` parquet files of Kafka-shaped
  *    `(key, value)` binary frames, drained `cpus` files per micro-batch;
  *  - `warm/`: [[WarmBatches]] more micro-batches of the same shape, which
  *    each repeated set-up drains before the measured one starts;
  *  - `slice/`: links to the first backlog files, the fixed slice the
  *    traced run's layer passes and scaling runs read;
  *  - `expected.bin`: the sorted hashes of every record the lane must
  *    emit, and `manifest.json` (written last) with the record, kept and
  *    drop-per-reason counts and the checksum.
  *
  * Records are built with `org.apache.avro`'s GenericDatumWriter, never
  * with the program's own serde. Every record derives from (seed,
  * index) alone, so a seed always yields the same files.
  *
  * Usage: Gen --workload plumb_avro --seed N --seconds S
  *            --work DIR [--smoke]
  * Prints the generated directory as its last stdout line. */
object Gen {

  final case class Size(batches: Int, perFile: Int)

  /** Backlog size for a run of `seconds`: about `seconds` of draining
    * on a 4-core machine when this benchmark was written, and never
    * fewer than 21 batches, so that ten of the batches after the first
    * lie beyond the median. */
  def size(seconds: Int, smoke: Boolean): Size =
    if (smoke) Size(batches = 4, perFile = 200)
    else Size(batches = math.max(21, 2 * seconds + 6), perFile = 2000)

  def main(args: Array[String]): Unit = {
    val a = Harness.flags(args)
    val workload = a("workload")
    val seed = a("seed").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val sz = size(a("seconds").toInt, a.contains("smoke"))
    val genRoot = Paths.get(a("work"), "gen")
    val tag = s"$workload-s$seed-b${sz.batches}-f${sz.perFile}-w$WarmBatches-c$cpus"
    val dir = genRoot.resolve(tag)
    if (!Files.exists(dir.resolve("manifest.json"))) {
      // One cached input set per workload bounds the disk the cache uses.
      if (Files.isDirectory(genRoot))
        Files.list(genRoot).iterator().asScala.toList
          .filter(_.getFileName.toString.startsWith(workload + "-"))
          .foreach(Harness.deleteTree)
      Harness.deleteTree(dir)
      generate(workload, seed, cpus, sz, dir)
    }
    println(dir.toAbsolutePath)
  }

  /** One generated record: the frame, its drop reason (-1 when kept)
    * and, when kept, the hash of the output record it must produce. */
  final case class Rec(key: Array[Byte], value: Array[Byte], reason: Int, hash: Long)

  private trait Maker { def apply(i: Long): Rec }

  private def avroMaker(seed: Long): () => Maker = {
    val schemaJson = new String(Files.readAllBytes(Paths.get(Wire.InputSchema)), UTF_8)
    () => new Maker {
      private val schema = new Schema.Parser().parse(schemaJson)
      private val personSchema = schema.getField("person").schema()
      private val writer = new GenericDatumWriter[GenericRecord](schema)
      private val bytes = new ByteArrayOutputStream(256)
      private var enc: BinaryEncoder = null

      def apply(i: Long): Rec = {
        val r = new SplittableRandom(Wire.mix(seed * 0x2545f4914f6cdd1dL + i))
        val key = Wire.mix(seed ^ i) // a bijection of i: keys never repeat
        val kind = r.nextInt(100)
        val notValid = r.nextBoolean()
        val lh = r.nextInt(6).toLong
        val rh = r.nextInt(6).toLong
        val name = letters(r, 3 + r.nextInt(10))
        val person = new GenericData.Record(personSchema)
        person.put("name", name)
        person.put("species", Species(r.nextInt(Species.length)))
        val rec = new GenericData.Record(schema)
        rec.put("redundantField", r.nextLong())
        rec.put("notValid", notValid)
        rec.put("fingers_lh", lh)
        rec.put("fingers_rh", rh)
        rec.put("person", person)
        rec.put("props", letters(r, 70 + r.nextInt(21)))
        bytes.reset()
        // 0x00 magic + 4-byte big-endian schema id, then the Avro body
        val (magic, id, reason) = kind match {
          case 0 => (1, Wire.InSchemaId, 0)
          case 1 => (0, Wire.WrongSchemaId, 1)
          case _ => (0, Wire.InSchemaId, -1)
        }
        bytes.write(magic)
        bytes.write(java.nio.ByteBuffer.allocate(4).putInt(id).array())
        enc = EncoderFactory.get().binaryEncoder(bytes, enc)
        writer.write(rec, enc)
        enc.flush()
        val hash = if (reason >= 0) 0L else Wire.hash(Wire.avroRecord(
          key, !notValid, name.toLowerCase(java.util.Locale.ROOT), lh + rh))
        Rec(java.nio.ByteBuffer.allocate(8).putLong(key).array(),
          bytes.toByteArray, reason, hash)
      }
    }
  }

  private val Species = Array("human", "homo sapiens", "elf", "dwarf", "hobbit")
  private val Letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"

  private def letters(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb.append(Letters.charAt(r.nextInt(Letters.length)))
    sb.toString
  }

  private def generate(workload: String, seed: Long, cpus: Int, sz: Size, dir: Path): Unit = {
    val newMaker = avroMaker(seed)
    val reasons = Wire.Reasons
    val files = sz.batches * cpus
    val records = files.toLong * sz.perFile
    Seq("backlog", "warm", "slice").foreach(d => Files.createDirectories(dir.resolve(d)))
    val kept = new Array[Array[Long]](files)
    val drops = Array.ofDim[Long](files, reasons.size)
    val pool = Executors.newFixedThreadPool(cpus)
    val makers = new ThreadLocal[Maker] { override def initialValue(): Maker = newMaker() }
    val jobs = (0 until files + cpus * WarmBatches).map { f =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val maker = makers.get()
          // warm files continue the index range past the backlog
          val (sub, name) =
            if (f < files) ("backlog", f"part-$f%05d.parquet")
            else ("warm", f"part-${f - files}%05d.parquet")
          val out = scala.collection.mutable.ArrayBuilder.make[Long]
          writeFile(dir.resolve(sub).resolve(name),
            (0 until sz.perFile).iterator.map { j =>
              val rec = maker(f.toLong * sz.perFile + j)
              if (f < files) {
                if (rec.reason >= 0) drops(f)(rec.reason) += 1 else out += rec.hash
              }
              rec
            })
          if (f < files) kept(f) = out.result()
        }
      })
    }
    pool.shutdown()
    jobs.foreach(_.get())
    pool.awaitTermination(1, TimeUnit.MINUTES)

    val sliceFiles = math.min(files, cpus * SliceBatches)
    (0 until sliceFiles).foreach { f =>
      val name = f"part-$f%05d.parquet"
      Files.createLink(dir.resolve("slice").resolve(name), dir.resolve("backlog").resolve(name))
    }
    val hashes = kept.flatten.sorted
    val out = new DataOutputStream(new BufferedOutputStream(
      Files.newOutputStream(dir.resolve("expected.bin")), 1 << 16))
    try hashes.foreach(out.writeLong) finally out.close()
    val dropTotals = reasons.indices.map(r => reasons(r) -> drops.map(_(r)).sum)
    val manifest = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "records" -> records.toString, "kept" -> hashes.length.toString,
      "checksum" -> hashes.sum.toString,
      "files" -> files.toString, "batches" -> sz.batches.toString,
      "slice_files" -> sliceFiles.toString,
      "slice_records" -> (sliceFiles.toLong * sz.perFile).toString,
      "drops" -> Json.obj(dropTotals.map { case (k, v) => k -> v.toString }: _*))
    val tmp = dir.resolve("manifest.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, dir.resolve("manifest.json"))
  }

  /** Batches each warm-up set-up drains: the JIT is still compiling the
    * batch path over the first few batches, and the measured drain
    * should see a steady one. */
  val WarmBatches = 2

  /** Batches in the fixed slice for layer passes and scaling runs. */
  val SliceBatches = 25

  private def writeFile(path: Path, recs: Iterator[Rec]): Unit = {
    val schema = MessageTypeParser.parseMessageType(Wire.FrameSchema)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try recs.foreach { rec =>
      val g = groups.newGroup()
      if (rec.key != null) g.add("key", Binary.fromConstantByteArray(rec.key))
      g.add("value", Binary.fromConstantByteArray(rec.value))
      w.write(g)
    } finally w.close()
  }
}
