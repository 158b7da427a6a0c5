package org.apache.spark.graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON output over Jackson: Scala maps and sequences become JSON
  * objects and arrays, insertion order kept. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }

  private def conv(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_] => s.map(conv).toSeq.asJava
    case o: Option[_] => o.map(conv).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(conv(v))

  /** One JSON object, top level only. */
  def read(s: String): Map[String, Any] =
    mapper.readValue(s, classOf[java.util.Map[String, Any]]).asScala.toMap
}
