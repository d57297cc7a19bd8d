package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named registry queries to files —
  * the optimization-round evidence trail (`plans/r14/<q>_before.txt` /
  * `_after.txt`). Usage:
  *
  *   sbt "runMain graft.ExplainDump <outDir> <suffix> [q1,q2,...]"
  *
  * With no query list, dumps the whole registry. `SPARK_GRAFT_SF_DIR`
  * picks the data dir (default sf0.001 — plan SHAPE is scale-free).
  * Cuts inside operators appear as InMemoryRelation / checkpoint scans
  * exactly as they execute.
  *
  * Queries whose construction itself runs jobs (driver-fold loops)
  * still produce the FINAL plan, which is what the bench executes.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <outDir> <suffix> [q1,q2,...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var failed = 0
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None =>
          System.err.println(s"[explain] unknown query: $n"); failed += 1
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(FormattedMode)
            Files.write(outDir.resolve(s"${n}_$suffix.txt"), txt.getBytes("UTF-8"))
            println(s"[explain] wrote ${n}_$suffix.txt (${txt.length} chars)")
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[explain] FAILED $n: $e"); failed += 1
          } finally {
            try spark.catalog.clearCache() catch { case NonFatal(_) => () }
          }
      }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
