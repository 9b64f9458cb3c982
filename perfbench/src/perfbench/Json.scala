package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON: writers take already-encoded values; reading goes
  * through the Jackson that ships with Spark. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")

  /** A finite double with every digit Java prints for it. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not finite")
    x.toString
  }

  def read(path: java.nio.file.Path): JsonNode = new ObjectMapper().readTree(path.toFile)
}
