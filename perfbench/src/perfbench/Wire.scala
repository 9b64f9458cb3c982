package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** What the generator and the output check must agree on, kept apart
  * from the program under test: schema ids, serde declarations and the
  * per-record hash behind the order-independent checksum. */
object Wire {
  /** Confluent schema id the avro lane's input frames carry. */
  val InSchemaId = 1
  /** Id carried by the deliberately mis-framed input records. */
  val WrongSchemaId = 3
  /** Id the avro lane's output serde stamps on every kept record. */
  val OutSchemaId = 2

  val InputSchema = "perfbench/schemas/undesired_props.avsc"
  val OutputSchema = "examples/demo/desired.avsc"

  /** The frame every input file holds: a Kafka-shaped binary record. */
  val FrameSchema =
    "message frame { optional binary key; optional binary value; }"

  /** Drop reasons the generator builds, in manifest order. Both make the
    * Confluent decode return null. */
  val Reasons: Seq[String] = Seq("bad_magic", "wrong_schema_id")

  /** 64-bit FNV-1a with a splitmix finalizer; summed over records
    * (wrapping) it gives a checksum that ignores record order. */
  def hash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    for (b <- s.getBytes(UTF_8)) { h ^= (b & 0xff); h *= 0x100000001b3L }
    mix(h)
  }

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def avroRecord(key: Long, valid: Boolean, name: String, fingers: Long): String =
    s"$key|$valid|$name|$fingers"
}
