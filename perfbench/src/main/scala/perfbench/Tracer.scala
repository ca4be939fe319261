package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.collection.mutable

/** In-memory spans recorded by the benchmark around its calls into the
  * engine's layers. Single-threaded: the benchmark is one closed-loop
  * client, so nesting follows the call stack. Disabled, `span` only
  * runs its body.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var requestId = 0L

  /** Starts a new request: later spans carry its id. */
  def newRequest(): Unit = requestId += 1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = spans.length
      spans += null // reserve the id; filled when the span ends
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, name, requestId, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Total self time (ns) and span count per span name. Self time is a
    * span's duration minus the part its child spans cover; children of
    * one span never overlap (one thread), so that part is their sum.
    */
  def selfTimes: Map[String, (Long, Int)] = Tracer.selfTimes(all)

  /** Total self time of one span name, in ms. */
  def selfMs(name: String): Double =
    selfTimes.get(name).map(_._1 / 1e6).getOrElse(0.0)

  def count(name: String): Int = selfTimes.get(name).map(_._2).getOrElse(0)

  /** One JSON object per span. */
  def write(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }

  /** Measured cost of recording one span (ns), for the overhead
    * estimate of a traced run.
    */
  def costPerSpanNs(): Double = {
    val probe = new Tracer(true)
    val n = 200000
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { sink += probe.span("probe")(i.toLong); i += 1 }
    val ns = (System.nanoTime() - t0).toDouble / n
    if (sink == -1L) println(sink) // keeps the loop observable
    ns
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, request: Long,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  def selfTimes(spans: Seq[Span]): Map[String, (Long, Int)] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(s => s.durNs - childNs(s.id)).sum, ss.length)
    }
  }
}
