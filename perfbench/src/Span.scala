package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The executor and JVM figures of traced work: the sum of one or more
  * stretches, each opened with [[resume]] and closed with [[pause]], so
  * that work between stretches (such as output checks) is not counted.
  */
final class Span private (spark: SparkSession, tracer: Tracer) {
  private var counters = Map.empty[String, Long].withDefaultValue(0L)
  private var gcSec = 0.0
  private var open: Option[(Map[String, Long], Double)] = None

  /** Opens a stretch; returns the counters at its start. */
  def resume(): Map[String, Long] = {
    val at = tracer.snapshot()
    open = Some((at, Jvm.gcSec))
    at
  }

  /** Closes the open stretch; returns the counters at its end. */
  def pause(): Map[String, Long] = {
    val at = tracer.snapshot()
    open.foreach { case (before, gc0) =>
      val d = Tracer.diff(at, before)
      counters = (counters.keySet ++ d.keySet).map(k => k -> (counters(k) + d(k))).toMap.withDefaultValue(0L)
      gcSec += Jvm.gcSec - gc0
    }
    open = None
    at
  }

  /** `wall` is the traced stretches' wall time and `untracedSec` that of
    * the same work run without tracing. Returns the counter deltas and the
    * exec metrics.
    */
  def metrics(wall: Double, untracedSec: Double): (Map[String, Long], Seq[Metric]) = {
    val d = counters
    val taskSec = d("task_ms") / 1e3
    val cores = spark.sparkContext.defaultParallelism
    (d, Seq(
      Metric("exec.task_s", taskSec, "s"),
      Metric("exec.busy_share", taskSec / (wall * cores), "share"),
      Metric("exec.shuffle_bytes", d("shuffle_bytes").toDouble, "bytes"),
      Metric("exec.spill_bytes", d("spill_bytes").toDouble, "bytes"),
      Metric("exec.gc_s", gcSec, "s"),
      Metric("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"),
      Metric("trace.overhead_share", wall / untracedSec - 1, "share")))
  }
}

object Span {
  /** A span with no stretch open yet. */
  def apply(spark: SparkSession, tracer: Tracer): Span = {
    Jvm.resetPeaks()
    new Span(spark, tracer)
  }
}

/** Fixed synthetic canary: a 32M-row projection and a 9973-key hash
  * aggregate, with no I/O and nothing from the program, so its time
  * moves only with the host. Evidence for the bounds, never a result.
  */
object Canary {
  def once(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(32L * 1000 * 1000)
      .select((col("id") % 9973).as("k"), ((col("id") * 2654435761L) % 1000003).as("v"))
      .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .agg(sum(col("s")), sum(col("c"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of three readings after one untimed reading. */
  def median(spark: SparkSession): Double = {
    once(spark)
    Stats.median(Seq.fill(3)(once(spark)))
  }
}

object Setup {
  /** Seconds since this JVM started. */
  def elapsed(): Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}
