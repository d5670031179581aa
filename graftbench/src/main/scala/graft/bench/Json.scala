package graft.bench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Scala values to JSON files and JSON text to trees, through the Jackson
  * that ships with Spark. */
object Json {
  // exact decimals: a 2-dp money value read as a double can misprint
  val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case Some(x) => toJava(x)
    case None => null
    case x => x
  }

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    mapper.writeValue(f, toJava(v))
  }

  /** Parse a response body; None when it is not well-formed JSON. */
  def parse(s: String): Option[JsonNode] =
    try Option(mapper.readTree(s)) catch { case _: Exception => None }
}
