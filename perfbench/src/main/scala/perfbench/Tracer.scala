package perfbench

import org.apache.spark.SparkContext
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
import scala.collection.mutable.ArrayBuffer

/** One traced call: `unit` names the rep, batch or pass it belongs to. */
final case class Span(id: Int, layer: String, name: String, parent: Int, unit: String,
    startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around calls into the program's public functions. They
  * are kept in memory and written out once, when the run ends. Jobs a
  * span starts carry its id in the [[Probe.SpanKey]] local property. */
final class Tracer(sc: SparkContext) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def spans: Seq[Span] = buf.toList

  def apply[T](layer: String, name: String, unit: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setLocalProperty(Probe.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      buf += Span(id, layer, name, parent, unit, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Probe.SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    implicit val formats: Formats = DefaultFormats
    try buf.foreach(s => out.println(Serialization.write(s)))
    finally out.close()
  }
}
