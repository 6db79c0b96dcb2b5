package graftbench

import scala.collection.mutable

import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** One timed interval. Times are epoch milliseconds with a fractional
  * part, so spans line up with Spark listener event times. `parent` is
  * the id of the enclosing span, −1 for a root; `op` is the operation id
  * the span belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
  def interval: (Double, Double) = (startMs, endMs)
}

/** Span recorder for the benchmark's single client thread. Spans stay in
  * memory until [[Trace.write]]; a disabled tracer records nothing and
  * costs one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var on = enabled

  /** Current operation id, stamped on every span opened while it is set. */
  var op: Long = -1L

  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  /** Record spans only while `active` (and the tracer is enabled). */
  def active_=(v: Boolean): Unit = on = enabled && v
  def active: Boolean = on

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val start = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, op, start, nowMs)
      }
    }

  /** Add an externally timed span (a Spark job) under the innermost
    * recorded span of `op` that contains its start. */
  def addChild(name: String, op: Long, startMs: Double, endMs: Double): Unit = {
    val parent = done.iterator
      .filter(s => s.op == op && s.startMs <= startMs && startMs <= s.endMs)
      .maxByOption(_.startMs).map(_.id).getOrElse(-1)
    done += Span(nextId, name, parent, op, startMs, endMs)
    nextId += 1
  }

  def spans: Seq[Span] = done.toList
}

object Trace {

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children may overlap each other). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.uncovered(s.interval, kids.getOrElse(s.id, Nil).map(_.interval))
    }.toMap
  }

  def write(path: java.nio.file.Path, spans: Seq[Span]): Unit =
    Json.writeLines(path, spans.sortBy(_.id).map { s =>
      ("id" -> s.id) ~ ("name" -> s.name) ~ ("parent" -> s.parent) ~ ("op" -> s.op) ~
        ("start_ms" -> s.startMs) ~ ("end_ms" -> s.endMs)
    })
}

/** JSON output for the result line and the span and operation files. */
object Json {
  /** A measured number; one that has no samples (NaN) is written as null. */
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  def line(v: JValue): String = compact(render(v))

  /** Write one JSON value per line. */
  def writeLines(path: java.nio.file.Path, values: Seq[JValue]): Unit =
    java.nio.file.Files.write(path, values.map(line).mkString("", "\n", "\n").getBytes("UTF-8"))
}
