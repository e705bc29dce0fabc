package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** A check on an operation's output failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Call accounting for one closed-loop client.
  *
  * Every call into the engine goes through [[op]]: the call is attempted,
  * timed, then its output is checked with the clock stopped. A call that
  * throws or whose check fails counts as failed and records no latency
  * sample, and the pass it belongs to records no pass time either, so a
  * broken call can never read as a fast one. */
final class Ctx(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Latency samples (ms) by metric key, plus harness-side counters. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Time spent inside the engine so far: every call through [[op]] or
    * [[engine]], checks and harness bookkeeping excluded. */
  var engineMs = 0.0

  private var passMs = 0.0
  private var passOk = true

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def count(key: String, v: Double): Unit = counts(key) += v

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    passOk = false
    val msg = s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .replaceAll("\\s+", " ").take(300)
    if (failures.size < 20) failures += msg
    Console.err.println(s"[perfbench] FAILED $msg")
  }

  /** A call into the engine outside any pass (fixture set-up): its time
    * counts in [[engineMs]], and a failure propagates. */
  def engine[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally engineMs += (System.nanoTime() - t0) / 1e6
  }

  /** One timed call into layer span `span`; its latency lands under
    * `metric` (None: pass time only) when the call and `check` succeed. */
  def op[A](span: String, metric: Option[String] = None)(body: => A)(
      check: A => Unit): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(span)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    engineMs += ms
    res.flatMap(a => try { check(a); Right(a) } catch { case NonFatal(e) => Left(e) }) match {
      case Right(a) =>
        passMs += ms
        metric.foreach(sample(_, ms))
        Some(a)
      case Left(e) =>
        fail(span, e)
        None
    }
  }

  /** An untimed output check (end-of-run state), counted as one operation. */
  def verify(label: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case NonFatal(e) => fail(label, e) }
  }

  /** One pass of the workload: its engine time (the sum of its calls'
    * times, harness bookkeeping excluded) lands under `key`, unless any
    * call in it failed. */
  def pass(key: String)(body: => Unit): Unit = {
    passMs = 0.0
    passOk = true
    try body catch { case NonFatal(e) => fail("pass", e) }
    if (passOk) sample(key, passMs)
  }
}

object Ctx {
  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
