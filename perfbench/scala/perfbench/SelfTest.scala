package perfbench

import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** Drives [[ClosedLoop]] with five operations, the second of which throws
  * and the fourth of which fails its output check, and prints the records
  * as JSON (perfbench/tests asserts on them). Needs no Spark session. */
object SelfTest {
  private implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    val ops = (0 until 5).map(i => JsonMethods.parse(s"""{"kind": "op", "n": $i}"""))
    val recs = ClosedLoop.run(ops, 60.0, new Tracer(null, enabled = false), { (_, i) =>
      if (i == 1) throw new IllegalStateException("operation 1 throws")
      (1L, () => if (i == 3) throw new IllegalStateException("operation 3 output is wrong"))
    })
    println(Serialization.write(recs.map(r => Map("i" -> r.i, "kind" -> r.kind, "ms" -> r.ms,
      "ok" -> r.ok, "error" -> r.error, "items" -> r.items))))
  }
}
