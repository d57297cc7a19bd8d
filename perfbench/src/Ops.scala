package perfbench

/** The ops of one run: an op is one tick or one query. An op fails when
  * it throws or when its output check fails; a failed op is counted and
  * never records a time, so a fast failure can never stand in for a
  * slow success.
  */
final class OpLog {
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0
  def failed: Int = errors.size
  def failures: Seq[String] = errors.toSeq

  /** Times `op`, then runs `check` on its result outside the timed
    * section. Returns the op's seconds when it succeeded.
    */
  def run[T](name: String)(op: => T)(check: T => Unit): Option[Double] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val out = op
      val sec = (System.nanoTime() - t0) / 1e9
      check(out)
      Some(sec)
    } catch {
      case scala.util.control.NonFatal(e) =>
        errors += s"$name: $e"
        None
    }
  }
}

/** An output check that did not hold. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}
