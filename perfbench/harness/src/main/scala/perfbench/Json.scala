package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Scala values → JSON text through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val lm = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => lm.put(k.toString, toJava(x)) }
      lm
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case null => null
    case other => other.asInstanceOf[AnyRef]
  }

  def render(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v) + "\n")

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
