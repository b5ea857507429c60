package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the plan the runner hands in and the report it reads back. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): Map[String, Any] =
    toScala(mapper.readValue(new java.io.File(path), classOf[Object])).asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => write(other.toString)
  }
}
