package graft.perfbench

import scala.collection.mutable

/** What one run measured: raw samples only. `run.py` turns them into
  * medians and tails, so the statistics live in one tested place. */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val opsMs = mutable.ArrayBuffer.empty[(String, Double)]
  val named = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Adds another result's failure accounting (a warm-up's). */
  def countFailures(o: Result): Unit = {
    attempted += o.attempted
    failed += o.failed
    failures ++= o.failures
  }

  def sample(name: String, unit: String, v: Double): Unit = {
    named.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v
    ()
  }

  /** Runs one operation. `body` returns the operation's timed
    * milliseconds and throws when the operation or its correctness check
    * fails; a failed operation counts in `failed` and is never timed. */
  def attempt(name: String)(body: => Double): Boolean = {
    attempted += 1
    try { opsMs += name -> body; true }
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name: $e"
        System.err.println(s"[perfbench] FAILED $name: $e")
        false
    }
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Result {
  def ensure(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}
