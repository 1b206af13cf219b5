package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out: Jackson trees to read the generated inputs, and a
  * writer for the plain Scala values the harness reports.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def readLines(path: String): Seq[JsonNode] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(l => mapper.readTree(l)).toVector
    finally src.close()
  }

  def ints(n: JsonNode): Seq[Int] = {
    val b = Vector.newBuilder[Int]
    n.elements().forEachRemaining(e => b += e.asInt)
    b.result()
  }

  def strings(n: JsonNode): Seq[String] = {
    val b = Vector.newBuilder[String]
    n.elements().forEachRemaining(e => b += e.asText)
    b.result()
  }

  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null => sb.append("null")
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: collection.Map[_, _] =>
        sb.append('{')
        m.zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (e, i) => if (i > 0) sb.append(','); go(e) }
        sb.append(']')
      case o: Option[_] => go(o.orNull)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), write(v))
}
