package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Materialize.MatOps

class MaterializeSpec extends SparkSuite {

  /** The RDD holding a cut's blocks: the cached column buffers of a
    * persist cut, or the checkpointed RDD of a localCheckpoint cut.
    */
  private def blocksRdd(df: DataFrame): Int =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case _ => df.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id }
        .getOrElse(fail("not a cut"))
    }

  test("pin returns the unpinned plan's rows and frees the given cuts") {
    val base = spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"))
    val reuse = base.groupBy(col("k")).agg(count(lit(1)).as("n")).materialized
    reuse.count()
    val loop = Materialize.cutLoop(base.where(col("id") % 3 === 0), previous = None)
    val out = loop.join(reuse, "k")
      .groupBy(col("k")).agg(sum(col("n")).as("sn"), max(col("id")).as("mx"))
    val expected = out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val frees = Seq(blocksRdd(reuse), blocksRdd(loop))
    assert(frees.forall(spark.sparkContext.getPersistentRDDs.contains))

    val pinned = Materialize.pin(out, reuse, loop)

    val held = spark.sparkContext.getPersistentRDDs
    assert(!frees.exists(held.contains), s"a freed cut is still held: $frees in ${held.keySet}")
    assert(held.contains(blocksRdd(pinned)), "the pin itself is not held")
    assert(pinned.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq == expected)
    Materialize.release(pinned)
  }
}
