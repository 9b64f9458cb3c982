package graft.runtime

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.TreeMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline

/** File-based golden verification: the runtime analogue of the
  * reference's `-t` test script (`pb.forInputs` / `pb.expectOutputs`,
  * StreamProcessOperations.scala:33-52), executed BEFORE the stream
  * starts; any mismatch refuses startup (Plumber.scala:41-50).
  *
  * Format: one JSON document
  * {{{ {"inputs":[{"key":…,"value":…},…], "expected":[…]} }}}
  * Records may omit `key` (void-key pipelines). Comparison is ordered
  * (count + per-record), structural, and null==absent — mirroring Lua
  * semantics where a nil table entry IS absence
  * (StreamProcessOperations.scala:117-132; the reference's discarded
  * type-check bug at :118-120 is not replicated — canonical values keep
  * their types). The file is parsed with no Spark job; only the inputs
  * run in Spark, as ONE job through the stream's generated code. Order is
  * pinned by threading the input position (`__seq`) through the
  * pipeline as a passthrough column and sorting the rows on it.
  */
object GoldenFile {

  /** Verify `pipeline` against the golden file. Right(n) = n records
    * matched; Left(msg) = first mismatch / shape error. */
  def verify(spark: SparkSession, pipeline: Pipeline, path: String): Either[String, Int] = {
    val golden = for {
      doc <- parse(spark, path)
      (inType, inputs) <- records(doc, "inputs")
      (expType, expected) <- records(doc, "expected")
    } yield (inType, inputs, expected.map(canonicalRow(_, expType)))
    golden.toRight(s"golden file $path needs top-level `inputs` and `expected` arrays").flatMap {
      case (inType, inputs, exp) =>
        // an RDD: the optimizer would run a local relation interpreted
        val rows = inputs.zipWithIndex.map { case (r, i) => Row(r(0), r(1), i) }
        val actualDf = pipeline.compile(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), inType.add("__seq", IntegerType, nullable = false)),
          passthrough = Seq("__seq"))
        val actual = actualDf.collect().toSeq.sortBy(_.getAs[Int]("__seq"))
          .map(canonicalRow(_, actualDf.schema) - "__seq")
        if (actual.size != exp.size)
          Left(s"expected ${exp.size} output records, got ${actual.size}: " +
            actual.mkString("[", ", ", "]"))
        else actual.zip(exp).zipWithIndex.collectFirst {
          case ((a, e), i) if a != e =>
            s"record $i mismatch:\n  actual:   $a\n  expected: $e"
        }.toLeft(actual.size)
    }
  }

  /** The golden document, read through the session's Hadoop filesystem
    * (`file:` or any URI the session reads) and parsed in-process
    * with the types `spark.read.json` infers: `from_json` with
    * `schema_of_json` over a one-row local frame folds, so no job runs.
    * None unless the text is a JSON object. */
  private def parse(spark: SparkSession, path: String): Option[Row] = {
    val file = new Path(path)
    val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    try spark.createDataFrame(java.util.List.of(Row(text)), new StructType().add("doc", StringType))
      .select(from_json(col("doc"), schema_of_json(lit(text)))).collect().headOption
      .flatMap(r => Option(r.get(0))).collect { case doc: Row => doc }
    catch { case _: AnalysisException => None } // not JSON, or a bare scalar
  }

  /** The `field` array as (key, value) rows and their schema; a record
    * without `key` or `value` reads null there. An EMPTY array (the
    * natural way to assert "all inputs drop") infers a non-struct
    * element type and yields no rows. None when the field is missing or
    * not an array of records. */
  private def records(doc: Row, field: String): Option[(StructType, Seq[Row])] =
    doc.schema.find(_.name == field).map(_.dataType).collect {
      case ArrayType(rec: StructType, _) => rec
      case _: ArrayType if doc.getAs[collection.Seq[Any]](field).isEmpty => new StructType()
    }.map { rec =>
      val kv = Seq("key", "value").map(n => rec.find(_.name == n).getOrElse(StructField(n, StringType)))
      StructType(kv) -> doc.getAs[collection.Seq[Row]](field).toSeq.map(r => Row.fromSeq(kv.map(f =>
        if (r == null || !rec.fieldNames.contains(f.name)) null else r.getAs[Any](f.name))))
    }

  /** Canonical structural value: structs -> name-sorted maps WITHOUT
    * null entries (null == absent, the Lua-table semantic), arrays ->
    * vectors, binary -> byte vector. Numeric equality is VALUE-based:
    * widths widen (all finite numerics -> an exact BigDecimal canonical
    * form, [[widen]]) so long 5 == double 5.0 — exactly the reference's
    * luaj semantics (its deepEq coerces 1 == 1.0) — without cooperative
    * equality's >2^53 lossiness. Golden JSON always parses numbers as
    * long/double, so a pipeline producing int 5 matches an expected 5;
    * only different VALUES mismatch. */
  def canonicalRow(r: Row, schema: StructType): Map[String, Any] =
    canonical(r, schema).asInstanceOf[Map[String, Any]]

  private def canonical(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: Row, st: StructType) =>
      TreeMap(st.fields.zipWithIndex.flatMap { case (f, i) =>
        val c = canonical(r.get(i), f.dataType)
        if (c == null) None else Some(f.name -> c)
      }.toIndexedSeq: _*)
    case (s: scala.collection.Seq[_], at: ArrayType) =>
      s.map(canonical(_, at.elementType)).toVector
    case (m: scala.collection.Map[_, _], mt: MapType) =>
      TreeMap(m.toSeq.map { case (k, mv) =>
        k.toString -> canonical(mv, mt.valueType)
      }.sortBy(_._1): _*)
    case (b: Array[Byte], _) => b.toVector
    case (x, _) => widen(x)
  }

  /** All finite numerics canonicalize to [[scala.math.BigDecimal]],
    * whose equality is numeric-EXACT: int 5 == long 5 == double 5.0
    * still hold (luaj's deepEq coercion), but Long-vs-Double does not
    * route through Scala cooperative equality's lossy Long→Double
    * conversion, which above 2^53 makes DISTINCT values compare equal
    * (Long.MaxValue == 9.223372036854776e18) — a silent false-match
    * window for 64-bit fingerprint goldens. NaN/Infinity cannot be
    * BigDecimals and stay on the double path (NaN != NaN, Inf == Inf). */
  private def widen(v: Any): Any = v match {
    case b: java.lang.Byte => BigDecimal(b.longValue)
    case s: java.lang.Short => BigDecimal(s.longValue)
    case i: java.lang.Integer => BigDecimal(i.longValue)
    case l: java.lang.Long => BigDecimal(l.longValue)
    case f: java.lang.Float if !f.isNaN && !f.isInfinite => BigDecimal(f.doubleValue)
    case d: java.lang.Double if !d.isNaN && !d.isInfinite => BigDecimal(d.doubleValue)
    case f: java.lang.Float => f.doubleValue
    case other => other
  }
}
