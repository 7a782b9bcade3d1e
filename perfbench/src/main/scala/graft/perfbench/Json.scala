package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Just enough JSON for the benchmark's own files: writing flat records and
  * reading the expectation files the generators produce. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => mapper.writeValueAsString(s)
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _]        => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_]      => s.map(value).mkString("[", ",", "]")
    case other               => mapper.writeValueAsString(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
