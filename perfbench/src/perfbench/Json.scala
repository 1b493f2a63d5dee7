package perfbench

import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods

/** JSON for the run record and the expected-output file, through the
  * json4s that ships with Spark. Parsed numbers are BigInt or Double. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def apply(v: Any): String = JsonMethods.compact(JsonMethods.render(Extraction.decompose(v)))

  def parse(s: String): Any = JsonMethods.parse(s).values

  def num(v: Any): Double = v match {
    case b: BigInt => b.toDouble
    case n: java.lang.Number => n.doubleValue
    case other => sys.error(s"not a number: $other")
  }
}
