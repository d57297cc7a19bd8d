package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `registry_tail`: passes over the committed name list. The seed fixes
  * the query order of every pass; the tables are the committed fixture
  * (the sf0.01 corpus), so every output has a committed row count and
  * checksum. Each query is built, then forced with the `noop` writer
  * (never `count()`, which lets Catalyst prune the columns the kernels
  * compute); only that is timed. The checksum comes from a separate
  * execution of the same DataFrame after the clock stops.
  */
object RegistryBench {

  val dataDir = "perfbench/data/sf0.01"
  val listFile = "perfbench/registry/tail.txt"
  /** Passes the per-query median and the pass median rest on, at least. */
  val MinTimedPasses = 2

  /** Reads a committed name list and fails loudly on any name the
    * registry does not have, so the list can never drift silently.
    */
  def readList(file: Path): Seq[String] = {
    val ns = Files.readAllLines(file).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    val missing = ns.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"$file names queries the registry does not have: ${missing.mkString(", ")}")
    require(ns.distinct.size == ns.size, s"$file repeats a name")
    ns
  }

  /** Builds query `name` and forces it with the `noop` writer; returns
    * the built DataFrame. `mark` is called with "build", then "exec",
    * each right after that phase ends.
    */
  def force(spark: SparkSession, name: String, dataDir: String,
            mark: String => Unit = _ => ()): DataFrame = {
    val df = graft.SparkEntry.queries(name)(spark, dataDir)
    mark("build")
    df.write.format("noop").mode("overwrite").save()
    mark("exec")
    df
  }

  def expected(root: Path): Map[String, Checksum.Value] = {
    val node = Json.read(root.resolve("perfbench/registry/expected.json"))
    val it = node.fields()
    val b = Map.newBuilder[String, Checksum.Value]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> Checksum.Value(e.getValue.get("rows").asLong, e.getValue.get("sum").asText)
    }
    b.result()
  }

  def run(spark: SparkSession, root: Path, a: Main.Args): Result = {
    val names = readList(root.resolve(listFile))
    val want = expected(root)
    val missing = names.filterNot(want.contains)
    require(missing.isEmpty, s"no committed expectation for ${missing.mkString(", ")}")
    val data = root.resolve(dataDir).toString
    val rng = new scala.util.Random(a.seed)
    val ops = new OpLog

    /** One pass in a fresh seeded order; the per-query seconds of the
      * queries that succeeded.
      */
    def pass(mark: (String, String) => Unit = (_, _) => ()): Seq[Double] =
      rng.shuffle(names).flatMap { n =>
        mark(n, "start")
        val sec = ops.run(n)(force(spark, n, data, mark(n, _))) { df =>
          Check.equal(s"$n rows/checksum", Checksum.of(df), want(n))
        }
        spark.catalog.clearCache()
        mark(n, "cleared")
        sec
      }

    // Untimed warm-up, not ops: two passes, unchecked (every timed op is),
    // for the JIT, codegen and the first reads of the fixture. A query that
    // throws here fails again, counted, in the timed passes.
    for (_ <- 1 to 2; n <- rng.shuffle(names)) {
      scala.util.Try(force(spark, n, data))
      spark.catalog.clearCache()
    }
    val setup = Setup.elapsed()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    if (!a.trace) {
      val perQuery = ArrayBuffer.empty[Double]
      val passes = ArrayBuffer.empty[Double]
      var n = 0
      do {
        val secs = pass()
        perQuery ++= secs
        if (secs.size == names.size) passes += secs.sum
        n += 1
      } while (n < MinTimedPasses || System.nanoTime() < deadline)
      if (passes.isEmpty) return Result(ops, Nil)
      Result(ops, Seq(
        Metric("setup_s", setup, "s"),
        Metric("op_p50_s", Stats.median(perQuery.toSeq), "s"),
        Metric("pass_s", Stats.median(passes.toSeq), "s")),
        s"${perQuery.size} timed queries in ${passes.size} passes of ${names.size}: " +
          passes.map(x => f"$x%.3f").mkString(" ") + " s")
    } else {
      Result(ops, traced(spark, () => pass(), pass(_)))
    }
  }

  /** The traced run: one untraced pass as the overhead reference, then
    * one pass with the listeners attached, each query split into build,
    * planning and execution. Only build and the `noop` write are traced;
    * the output checks between them are not.
    */
  private def traced(spark: SparkSession, plain: () => Seq[Double],
                     instrumented: ((String, String) => Unit) => Seq[Double]): Seq[Metric] = {
    val sc = spark.sparkContext
    val canary = Canary.median(spark)
    val untraced = plain().sum

    val tracer = new Tracer(spark)
    tracer.attach()
    var buildSec, writeSec, planSec = 0.0
    var buildJobs = 0L
    var held = 0L
    var heldMb = 0.0
    var before, built = Map.empty[String, Long]
    var t = 0L
    val span = Span(spark, tracer)
    val wall = instrumented {
      case (_, "start") =>
        before = span.resume()
        t = System.nanoTime()
      case (_, "build") =>
        buildSec += (System.nanoTime() - t) / 1e9
        built = tracer.snapshot()
        buildJobs += Tracer.diff(built, before)("jobs")
        t = System.nanoTime()
      case (_, "exec") =>
        writeSec += (System.nanoTime() - t) / 1e9
        // the write's own QueryExecution: optimization and physical
        // planning of the built query (its analysis ran in the build)
        val d = Tracer.diff(span.pause(), built)
        planSec += (d("phase_ms.optimization") + d("phase_ms.planning")) / 1e3
      case (_, _) =>
        // cached blocks the query still holds after its clearCache
        held += sc.getPersistentRDDs.size
        heldMb += sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    }.sum
    val (d, exec) = span.metrics(wall, untraced)
    tracer.detach()
    exec ++ Seq(
      Metric("host.canary_s", canary, "s"),
      Metric("queries.build_s", buildSec, "s"),
      Metric("queries.build_jobs", buildJobs.toDouble, "count"),
      Metric("queries.plan_s", planSec, "s"),
      Metric("queries.exec_s", writeSec - planSec, "s"),
      Metric("queries.jobs", d("jobs").toDouble, "count"),
      Metric("queries.stages", d("stages").toDouble, "count"),
      Metric("queries.tasks", d("tasks").toDouble, "count"),
      Metric("sources.schema_jobs", d("schema_jobs").toDouble, "count"),
      Metric("plans.global_windows", d("global_windows").toDouble, "count"),
      Metric("plans.single_task_stages", d("single_task_stages").toDouble, "count"),
      Metric("operators.rdds_held", held.toDouble, "count"),
      Metric("operators.held_mb", heldMb, "MB"))
  }
}
