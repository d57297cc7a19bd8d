package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (same configs as the
  * Verify/Bench mains so behavior matches the driver's runs).
  *
  * Every test starts from an EMPTY cache: suites run sequentially in
  * one forked JVM against one shared session, so without the clear a
  * persisted intermediate from any earlier test leaks into later
  * plan-shape assertions — canonical-plan cache substitution then
  * inserts extra `InMemoryTableScan`s and reuse-read counts flip
  * depending on suite order (flaky by construction).
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkSuite.session

  override protected def beforeEach(): Unit = {
    super.beforeEach()
    SparkSuite.session.catalog.clearCache()
  }

  /** Evaluate a column expression over a single row. */
  def evalOne(c: Column): Any = {
    val r = spark.range(1).select(c.as("v")).collect()(0)
    if (r.isNullAt(0)) null else r.get(0)
  }

  /** The executed plan TREE of `df` (AQE's input plan when adaptive). A
    * cut's cached plan is not part of it: `InMemoryTableScanExec` is a
    * leaf, and its `InMemoryRelation` child plan ran once, when the cut
    * was populated — even though the plan STRING prints it inline at
    * every read.
    */
  def executedTree(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case p => p
  }

  /** Count physical reuse-read leaves in the executed plan TREE: cache
    * reads (`InMemoryTableScanExec`, `.materialized` / `cutEager`) plus
    * checkpoint reads (`RDDScanExec`, prints as "Scan ExistingRDD",
    * `pin` / `cutLoop`). Tree counts, unlike plan-STRING counts,
    * exclude the cached child plans `InMemoryRelation` prints inline — a
    * cut whose own plan reads an earlier cut re-prints that read inside
    * its relation dump even though it never re-executes, so string
    * occurrence counts overshoot the compute count.
    */
  def reuseReads(df: DataFrame): Int =
    executedTree(df).collect {
      case s: InMemoryTableScanExec => s: SparkPlan
      case s: RDDScanExec => s: SparkPlan
    }.size

  /** Count the expressions named `name` (their `prettyName`) in the
    * executed plan TREE — a compute count: a kernel behind a cut runs in
    * the cut's cached plan, outside the tree, and is not counted.
    */
  def kernelCalls(df: DataFrame, name: String): Int =
    executedTree(df)
      .flatMap(_.expressions.flatMap(_.collect { case e if e.prettyName == name => e }))
      .size
}

object SparkSuite {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // match the Verify/Bench sessions (r14): cached plans may coalesce
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .getOrCreate()
}
