package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sinks.Sink
import graft.state.StateStore

/** Per-layer counters, taken from outside the program: a SparkListener
  * for jobs, stages and tasks, and a QueryExecutionListener for the
  * actions the program runs. Read them with [[snapshot]] and subtract two
  * snapshots to attribute one op.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val counters = TrieMap.empty[String, AtomicLong]
  private def add(k: String, v: Long): Unit =
    counters.getOrElseUpdate(k, new AtomicLong()).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    // schema inference of a bare spark.read.parquet in the table catalog
    // or the raw-issue source
    if (e.stageInfos.exists(s => s.name.startsWith("parquet at Tables.scala") ||
        s.name.startsWith("parquet at RawIssueSource.scala"))) add("schema_jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    if (e.stageInfo.numTasks == 1) add("single_task_stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("task_ms", m.executorRunTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    add(s"action.$funcName", 1)
    add(s"action_ns.$funcName", durationNs)
    // planning phases of this execution's own QueryExecution (ms clock)
    qe.tracker.phases.foreach { case (phase, p) => add(s"phase_ms.$phase", p.durationMs) }
    add("global_windows", collectWithSubqueries(qe.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => 1
    }.size)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  def snapshot(): Map[String, Long] = {
    drain()
    counters.map { case (k, v) => k -> v.get }.toMap
  }
}

object Tracer {
  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }.withDefaultValue(0L)
}

/** Sink wrapper that times each table write of the wrapped sink. */
final class TimedSink(inner: Sink) extends Sink {
  val writeSec = TrieMap.empty[String, Double]
  def write(df: DataFrame, table: String): Unit = {
    val t0 = System.nanoTime()
    inner.write(df, table)
    writeSec(table) = writeSec.getOrElse(table, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** State-store wrapper that times reads and writes of the wrapped store. */
final class TimedStateStore(inner: StateStore) extends StateStore {
  var getSec = 0.0
  var setSec = 0.0
  private def timed[T](f: => T)(acc: Double => Unit): T = {
    val t0 = System.nanoTime()
    try f finally acc((System.nanoTime() - t0) / 1e9)
  }
  def get(key: String): Option[String] = timed(inner.get(key))(getSec += _)
  def set(key: String, value: String): Unit = timed(inner.set(key, value))(setSec += _)
  def delete(key: String): Unit = inner.delete(key)
}

/** Process-wide JVM figures (local mode: driver and executors share it). */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSec: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetPeaks(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
