package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.functions.TimeFunctions
import graft.runtime.GoldenFile

/** Ports of the reference's three worked examples (executable specs,
  * SURVEY §2.4) and the 7-step chaining suite
  * (ChainingOperationsTest.scala:9-49). Same inputs, same outputs, same
  * drop behavior — via the golden file the CLI's pre-pass reads
  * ([[GoldenFile.verify]]), so each test also exercises the
  * `forInputs/expectOutputs` semantics that gate startup. */
class PipelineSpec extends SparkSpecBase {

  /** Verify `pipe` against a golden document built from JSON arrays of
    * input and expected records. */
  private def verify(pipe: Pipeline, inputs: String, expected: String): Either[String, Int] = {
    val g = Files.createTempFile("pipeline-golden", ".json")
    Files.writeString(g, s"""{"inputs": $inputs, "expected": $expected}""")
    GoldenFile.verify(spark, pipe, g.toString)
  }

  // --- demo example: Avro->Avro mapValues restructure -------------------
  // reference: examples/demo/example.lua:1-7, example.test.lua:1-31

  private def demoInput(red: Long, notValid: Boolean, lh: Long, rh: Long,
      name: String, species: String): String =
    s"""{"value": {"redundantField": $red, "notValid": $notValid,
       |"fingers_lh": $lh, "fingers_rh": $rh,
       |"person": {"name": "$name", "species": "$species"}}}""".stripMargin

  test("demo: restructure (valid = !notValid, name lowered, fingers = lh+rh)") {
    val pipe = Pipeline().mapValues(v => struct(
      (!v.getField("notValid")).as("valid"),
      lower(v.getField("person").getField("name")).as("name"),
      (v.getField("fingers_lh") + v.getField("fingers_rh")).as("fingers")))
    val out = verify(pipe,
      Seq(
        demoInput(42, false, 5, 5, "Roel", "homo sapiens"),
        demoInput(43, true, 5, 6, "Ewout", "homo sapiens")).mkString("[", ",", "]"),
      """[{"value": {"valid": true, "name": "roel", "fingers": 10}},
        | {"value": {"valid": false, "name": "ewout", "fingers": 11}}]""".stripMargin)
    assert(out == Right(2))
  }

  test("golden mismatch is detected and refuses (pre-pass semantics)") {
    val pipe = Pipeline().mapValues(v => struct(
      (!v.getField("notValid")).as("valid")))
    val input = s"[${demoInput(42, false, 5, 5, "Roel", "x")}]"
    assert(verify(pipe, input, """[{"value": {"valid": true}}]""") == Right(1))
    val wrong = verify(pipe, input, """[{"value": {"valid": false}}]""")
    assert(wrong.left.exists(_.contains("record 0 mismatch")), wrong)
    // the compare is ordered: the right records in the wrong order refuse
    val two = s"[${demoInput(1, false, 0, 0, "a", "x")}, ${demoInput(2, true, 0, 0, "b", "x")}]"
    assert(verify(pipe, two,
      """[{"value": {"valid": true}}, {"value": {"valid": false}}]""") == Right(2))
    assert(verify(pipe, two,
      """[{"value": {"valid": false}}, {"value": {"valid": true}}]""").isLeft)
  }

  // --- time example: string,string -> long,long with drop ---------------
  // reference: examples/time/example.lua:6-12, example.test.lua:1-14

  test("time: ISO key -> unix millis, numeric value kept, unparsable dropped") {
    val pipe = Pipeline()
      .filter((_, v) => v.try_cast(LongType).isNotNull)
      .map((k, v) => (TimeFunctions.iso8601ToUnixMillis(k), v.try_cast(LongType)))
    val out = verify(pipe,
      """[{"key": "2016-05-13T16:43:12.345+00:00", "value": "42"},
        | {"key": "2014-11-24T23:16:42.345+01:00", "value": "three"},
        | {"key": "2016-05-13T16:43:13.37Z", "value": "37"}]""".stripMargin,
      """[{"key": 1463157792345, "value": 42},
        | {"key": 1463157793370, "value": 37}]""".stripMargin)
    assert(out == Right(2), out)
  }

  // --- csv example: string -> struct with nullable field, 3 drops -------
  // reference: examples/csv/example.lua:1-20, example.test.lua:1-26

  test("csv: parse line, arity filter, nullable blog, tonumber cast") {
    val pipe = Pipeline()
      .mapValues(v => split(v, ",", -1))
      .filter((_, v) => size(v) === 4 && element_at(v, 4).try_cast(LongType).isNotNull)
      .mapValues(v => struct(
        element_at(v, 1).as("login"),
        element_at(v, 2).as("created_at"),
        when(element_at(v, 3) === "", lit(null)).otherwise(element_at(v, 3)).as("blog"),
        element_at(v, 4).try_cast(LongType).as("public_repos")))
    val out = verify(pipe,
      """[{"value": "rollulus,2015-01-14T07:36:24Z,https://keybase.io/rollulus,8"},
        | {"value": "eneco,2012-09-13T09:16:29Z,,4"},
        | {"value": "not,enough,columns"},
        | {"value": ""},
        | {"value": "a,b,c,notanumber"}]""".stripMargin,
      """[{"value": {"login": "rollulus", "created_at": "2015-01-14T07:36:24Z",
        |   "blog": "https://keybase.io/rollulus", "public_repos": 8}},
        | {"value": {"login": "eneco", "created_at": "2012-09-13T09:16:29Z",
        |   "public_repos": 4}}]""".stripMargin)
    assert(out == Right(2), out)
  }

  // --- chaining: 7-step chain, key predicates, all drop paths -----------
  // reference: ChainingOperationsTest.scala:9-49 — in t(i INT), out t(j INT),
  // key STRING; chain: mapValues -> filter -> mapValues -> filter -> filter
  // -> map -> filter with 4 negative cases.

  test("chaining: 7-step chain with key-based predicates and drops") {
    val pipe = Pipeline()
      .mapValues(v => struct((v.getField("i") * 2).as("i")))
      .filter((_, v) => v.getField("i") =!= 0)
      .mapValues(v => struct((v.getField("i") + 1).as("i")))
      .filter((k, _) => length(k) === 5)
      .filter((k, _) => substring(k, 5, 1) === "O") // k:byte(-1)==79 i.e. 'O'
      .map((k, v) => (upper(k), struct(v.getField("i").as("j"))))
      .filter((_, v) => v.getField("j") > 0)
    val out = verify(pipe,
      """[{"key": "helloO", "value": {"i": 3}},
        | {"key": "heyO", "value": {"i": 3}},
        | {"key": "helUo", "value": {"i": 3}},
        | {"key": "hellO", "value": {"i": 0}},
        | {"key": "hellO", "value": {"i": -3}},
        | {"key": "hellO", "value": {"i": 3}}]""".stripMargin,
      // dropped in order: length 6, length 4, last char not O, i*2 == 0,
      // j = -5 < 0; the last is kept
      """[{"key": "HELLO", "value": {"j": 7}}]""")
    assert(out == Right(1), out)
  }

  // --- typed lambda path -----------------------------------------------

  test("typed pipeline: lambda chain with type change and drops") {
    import spark.implicits._
    val ds = Seq(("2016-05-13T16:43:12.345+00:00", "42"),
      ("bad", "three"), ("2016-05-13T16:43:13.37Z", "37")).toDS()
    val out = TypedPipeline[String, String]()
      .flatMapOpt { (k, v) =>
        for {
          n <- v.toLongOption
          ts <- scala.util.Try(java.time.OffsetDateTime.parse(k).toInstant.toEpochMilli).toOption
        } yield (ts, n)
      }
      .filter((_, v) => v > 0)
      .run(ds)
      .collect().toSeq
    assert(out == Seq((1463157792345L, 42L), (1463157793370L, 37L)))
    // map and mapValues change the record type mid-chain; a later
    // filter still drops
    val swapped = TypedPipeline[String, String]()
      .mapValues(_.toLongOption.getOrElse(-1L))
      .filter((_, v) => v > 37)
      .map((k, v) => (v, k.length))
      .run(ds)
      .collect().toSeq
    assert(swapped == Seq((42L, 29)))
  }
}
