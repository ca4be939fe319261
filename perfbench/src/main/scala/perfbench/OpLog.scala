package perfbench

import scala.collection.mutable

/** Closed-loop op accounting: each op is timed, then verified outside
  * its timing. An op that throws or fails verification counts as
  * failed and leaves no latency sample, so a broken op can never read
  * as a fast one.
  */
final class OpLog {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private var attemptedN = 0
  private val failures = mutable.ArrayBuffer[String]()

  def attempted: Int = attemptedN
  def failed: Int = failures.length
  def failureMessages: Seq[String] = failures.toSeq

  /** Latency samples (ms) of the successful ops of one kind. */
  def latencies(kind: String): Seq[Double] =
    samples.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Runs `call` timed and `verify` untimed; returns the result of a
    * successful op.
    */
  def op[A](kind: String)(call: => A)(verify: A => Unit): Option[A] = {
    attemptedN += 1
    val t0 = System.nanoTime()
    val outcome =
      try Right(call)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    outcome match {
      case Left(e) => fail(kind, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Right(r) =>
        try {
          verify(r)
          samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms
          Some(r)
        } catch {
          case e: Throwable if scala.util.control.NonFatal(e) =>
            fail(kind, s"wrong result: ${e.getMessage}"); None
        }
    }
  }

  /** An untimed correctness check, counted like an op. */
  def check(kind: String)(body: => Unit): Unit =
    op(kind)(())(_ => body)

  private def fail(kind: String, msg: String): Unit = {
    failures += s"$kind: ${Option(msg).getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAILED $kind: $msg")
  }
}

/** Thrown by verification code when an output is wrong. */
final class WrongResult(msg: String) extends Exception(msg)

object Verify {
  def that(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new WrongResult(msg)
}
