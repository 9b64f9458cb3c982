package graft.types

import java.io.ByteArrayOutputStream
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.Schema.Type
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.types.{BinaryType, StructType}

/** The SURVEY §5.3 property suite for the type bridge: round-trip
  * arbitrary schema-conformant values through every bridge direction.
  * Schemas are generated over the full supported surface — primitives,
  * nested records, arrays, maps, enums, bytes/fixed, and unions both
  * nullable ([null,T]) and multi-type (struct-of-members) — because the
  * bridge is the component with the most case analysis and
  * example-based tests (AvroBridgeSpec) can't sweep the combinations.
  *
  * Directions pinned:
  *   1. avro datum -> Catalyst -> avro datum  (the wire query path)
  *   2. binary -> AvroDecode -> AvroEncode -> binary (the Catalyst
  *      expressions exactly as a query plan invokes them, with Avro's
  *      own GenericDatumWriter/GenericDatumReader as the reference)
  * plus the declared failure modes: unresolvable unions and nulls for
  * non-nullable schemas throw UnresolvedUnionException, and a truncated
  * body decodes to NULL (a dropped record).
  */
object AvroBridgeProperties extends Properties("graft.avrobridge") {

  // ------------------------------------------------------ schema generator

  /** Named avro types (record/enum/fixed) must not collide within one
    * schema tree; a process-wide counter keeps every generated name
    * unique without threading state through Gen. */
  private val names = new AtomicInteger(0)
  private def fresh(prefix: String): String = prefix + names.incrementAndGet()

  private def prim(t: Type): Schema = Schema.create(t)

  private val primitives: Gen[Schema] = Gen.oneOf(
    prim(Type.BOOLEAN), prim(Type.INT), prim(Type.LONG),
    prim(Type.FLOAT), prim(Type.DOUBLE), prim(Type.STRING),
    prim(Type.BYTES))

  private val enums: Gen[Schema] = Gen.chooseNum(2, 5).map { n =>
    Schema.createEnum(fresh("En"), null, "graft.gen",
      (0 until n).map("S" + _).asJava)
  }

  private val fixeds: Gen[Schema] =
    Gen.chooseNum(1, 8).map(n => Schema.createFixed(fresh("Fx"), null, "graft.gen", n))

  private val leaf: Gen[Schema] =
    Gen.frequency(6 -> primitives, 1 -> enums, 1 -> fixeds)

  /** Union branches must be distinct types (avro rule): Gen.pick from a
    * pool of distinct primitive kinds guarantees the primitive part;
    * named branches (enum/fixed/record) are always legal because every
    * generated name is fresh; unnamed complex branches (array/map) are
    * deduplicated to at most one of each kind. n=1 with no extras
    * exercises the single-branch fast path, withNull the [null,...]
    * nullable path, and the named/complex extras drive the
    * name-matched RECORD/ENUM/FIXED union-dispatch arms and the
    * struct-of-members encode path for non-primitive members. */
  private val namedOrComplexBranch: Gen[Schema] = Gen.frequency(
    2 -> enums, 2 -> fixeds, 2 -> Gen.lzy(record(1)),
    1 -> leaf.map(Schema.createArray), 1 -> leaf.map(Schema.createMap))

  private val unions: Gen[Schema] = for {
    withNull <- Gen.oneOf(true, false)
    n <- Gen.chooseNum(1, 3)
    pool <- Gen.pick(n, Seq(prim(Type.INT), prim(Type.STRING),
      prim(Type.BOOLEAN), prim(Type.DOUBLE), prim(Type.BYTES)))
    nExtra <- Gen.chooseNum(0, 2)
    extras <- Gen.listOfN(nExtra, namedOrComplexBranch)
  } yield {
    val dedupedExtras = extras.foldLeft(Vector.empty[Schema]) { (acc, b) =>
      val unnamedComplex = b.getType == Type.ARRAY || b.getType == Type.MAP
      if (unnamedComplex && acc.exists(_.getType == b.getType)) acc else acc :+ b
    }
    Schema.createUnion(
      ((if (withNull) Seq(prim(Type.NULL)) else Nil) ++ pool ++ dedupedExtras).asJava)
  }

  private def record(depth: Int): Gen[Schema] = for {
    n <- Gen.chooseNum(1, 4)
    fieldSchemas <- Gen.listOfN(n, schemaGen(depth - 1))
  } yield {
    val fields = fieldSchemas.zipWithIndex.map { case (s, i) =>
      new Schema.Field("f" + i, s, null, null.asInstanceOf[AnyRef])
    }
    Schema.createRecord(fresh("Rec"), null, "graft.gen", false, fields.asJava)
  }

  private def schemaGen(depth: Int): Gen[Schema] =
    if (depth <= 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> record(depth),
      2 -> Gen.lzy(schemaGen(depth - 1).map(Schema.createArray)),
      1 -> Gen.lzy(schemaGen(depth - 1).map(Schema.createMap)),
      2 -> unions)

  /** Top level is always a record — avro wire values in the engine are
    * records. */
  private val topSchema: Gen[Schema] = record(3)

  // ------------------------------------------------------- datum generator

  // valid-UTF8 text (incl. proper surrogate pairs); lone surrogates would
  // be replaced during avro's UTF-8 encode and break round-trip equality
  private val textChar: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", ".", ",", "é", "ß", "中", "Ж"),
    1 -> Gen.oneOf("🙂", "🍕"))
  private val texts: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, textChar).map(_.mkString))
  private val keys: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val bytes: Gen[Array[Byte]] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))

  private def seqGen[A](gens: List[Gen[A]]): Gen[List[A]] =
    gens.foldRight(Gen.const(List.empty[A]))((g, acc) =>
      for { x <- g; xs <- acc } yield x :: xs)

  /** A schema-conformant datum, exactly as GenericDatumReader would
    * produce it. No NaN floats/doubles (chooseNum never emits them):
    * NaN != NaN would fail structural equality without testing the bridge. */
  private def datumGen(s: Schema): Gen[Any] = s.getType match {
    case Type.BOOLEAN => Gen.oneOf(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE)
    case Type.INT     => Gen.chooseNum(Int.MinValue, Int.MaxValue).map(Int.box)
    case Type.LONG    => Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Long.box)
    case Type.FLOAT   => Gen.chooseNum(-1e6f, 1e6f).map(Float.box)
    case Type.DOUBLE  => Gen.chooseNum(-1e9d, 1e9d).map(Double.box)
    case Type.STRING  => texts.map(new Utf8(_))
    case Type.ENUM =>
      Gen.oneOf(s.getEnumSymbols.asScala.toSeq)
        .map(sym => new GenericData.EnumSymbol(s, sym))
    case Type.BYTES => bytes.map(java.nio.ByteBuffer.wrap)
    case Type.FIXED =>
      Gen.listOfN(s.getFixedSize, Gen.chooseNum(-128, 127).map(_.toByte))
        .map(bs => new GenericData.Fixed(s, bs.toArray))
    case Type.RECORD =>
      seqGen(s.getFields.asScala.toList.map(f => datumGen(f.schema()))).map { vs =>
        val rec = new GenericData.Record(s)
        vs.zipWithIndex.foreach { case (v, i) => rec.put(i, v) }
        rec
      }
    case Type.ARRAY =>
      Gen.chooseNum(0, 4)
        .flatMap(n => seqGen(List.fill(n)(datumGen(s.getElementType))))
        .map { xs =>
          val out = new java.util.ArrayList[Any](xs.size)
          xs.foreach(out.add)
          out
        }
    case Type.MAP =>
      Gen.chooseNum(0, 4)
        .flatMap(n => seqGen(List.fill(n)(Gen.zip(keys, datumGen(s.getValueType)))))
        .map { kvs =>
          val out = new java.util.HashMap[String, Any]()
          kvs.foreach { case (k, v) => out.put(k, v) }
          out
        }
    case Type.UNION =>
      Gen.oneOf(s.getTypes.asScala.toSeq).flatMap(b =>
        if (b.getType == Type.NULL) Gen.const(null) else datumGen(b))
    case Type.NULL => Gen.const(null)
    case other => throw new IllegalArgumentException(s"gen: $other")
  }

  private val schemaAndDatum: Gen[(Schema, GenericRecord)] = for {
    s <- topSchema
    d <- datumGen(s)
  } yield (s, d.asInstanceOf[GenericRecord])

  // ------------------------------------------------- structural normalizer

  /** Collapse every avro/catalyst container representation to plain Scala
    * values so two datums compare by CONTENT: Utf8/String/EnumSymbol ->
    * String, ByteBuffer/Fixed -> List[Byte], java collections -> Scala,
    * records -> ordered (name, value) lists. */
  private def norm(v: Any): Any = v match {
    case null => null
    case r: GenericRecord =>
      r.getSchema.getFields.asScala.toList.map(f => f.name() -> norm(r.get(f.pos())))
    case e: GenericData.EnumSymbol => e.toString
    case f: GenericData.Fixed => f.bytes().toList
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a.toList
    case a: Array[Byte] => a.toList
    case s: CharSequence => s.toString
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> norm(x) }.toMap
    case c: java.util.Collection[_] => c.asScala.toList.map(norm)
    case x => x
  }

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

  // ------------------------------------------------------------ properties

  property("schema mapping: union-with-null is nullable, array/map carry " +
      "element nullability") =
    forAll(topSchema) { s =>
      val st = AvroBridge.toSqlType(s).asInstanceOf[StructType]
      s.getFields.asScala.forall { f =>
        val field = st(f.name())
        f.schema().getType match {
          case Type.UNION =>
            val hasNull = f.schema().getTypes.asScala.exists(_.getType == Type.NULL)
            !hasNull || field.nullable
          case _ => true
        }
      }
    }

  property("avro -> catalyst -> avro round-trips structurally") =
    forAll(schemaAndDatum) { case (s, d) =>
      val dt = AvroBridge.toSqlType(s)
      val back = AvroBridge.catalystToAvro(AvroBridge.avroToCatalyst(d, s), dt, s)
      norm(back) == norm(d)
    }

  property("AvroDecode then AvroEncode (the query-plan path) is identity " +
      "on the wire value") =
    forAll(schemaAndDatum) { case (s, d) =>
      val dt = AvroBridge.toSqlType(s)
      val dec = AvroDecode(Literal.create(null, BinaryType), s.toString)
      val enc = AvroEncode(Literal.create(null, dt), s.toString)
      val back = read(enc.encode(dec.decode(write(d))), s)
      norm(back) == norm(d)
    }

  property("every strict prefix of a valid body decodes to NULL " +
      "(drop-record), never an exception") =
    forAll(schemaAndDatum) { case (s, d) =>
      val dec = AvroDecode(Literal.create(null, BinaryType), s.toString)
      val body = write(d)
      (0 until body.length).forall(n => dec.decode(body.take(n)) == null)
    }

  private val multiUnionNoNull: Gen[Schema] = for {
    n <- Gen.chooseNum(2, 3)
    pool <- Gen.pick(n, Seq(prim(Type.INT), prim(Type.STRING),
      prim(Type.BOOLEAN), prim(Type.DOUBLE)))
  } yield Schema.createUnion(pool.asJava)

  property("all-null member struct for a non-nullable multi-union throws " +
      "UnresolvedUnionException") =
    forAll(multiUnionNoNull) { s =>
      val dt = AvroBridge.toSqlType(s).asInstanceOf[StructType]
      val allNull = new GenericInternalRow(new Array[Any](dt.size))
      Prop.throws(classOf[UnresolvedUnionException]) {
        AvroBridge.catalystToAvro(allNull, dt, s)
      }
    }

  property("null for a non-nullable avro type throws " +
      "UnresolvedUnionException") =
    forAll(Gen.oneOf(prim(Type.INT), prim(Type.STRING), prim(Type.BOOLEAN),
        prim(Type.BYTES), prim(Type.DOUBLE))) { s =>
      Prop.throws(classOf[UnresolvedUnionException]) {
        AvroBridge.catalystToAvro(null, AvroBridge.toSqlType(s), s)
      }
    }
}
