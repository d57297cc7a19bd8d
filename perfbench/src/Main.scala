package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** One metric as printed: a name, a measured value and its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one run of a workload reports; `samples` says how many timings
  * the figures rest on.
  */
final case class Result(ops: OpLog, metrics: Seq[Metric], samples: String = "")

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Runs one workload in this JVM at local[<cores>] with one driver thread
  * issuing the work, and prints one JSON line last: `correct`,
  * `attempted`, `failed` and `metrics`. Exits 1 when any op failed.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") match {
      case "0" => false
      case "1" => true
      case v => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $v")
    })
  }

  val workloads: Seq[String] = Seq("pipeline_cold", "pipeline_incremental", "registry_tail")

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The metrics BENCHMARK.json declares for this mode, in its order:
    * every end-to-end metric untraced, every per-layer metric traced. A
    * per-layer metric of a layer the workload does not run (a sink on a
    * registry workload, a query builder on a pipeline one) reads 0; a
    * missing end-to-end metric is an error.
    */
  def declared(r: Result, trace: Boolean, benchmark: Path): Result = {
    val spec = Json.read(benchmark).get(if (trace) "per_layer" else "end_to_end")
    val got = r.metrics.map(m => m.name -> m).toMap
    val out = (0 until spec.size).map(spec.get).map { d =>
      val name = d.get("name").asText
      got.getOrElse(name,
        if (trace || r.ops.failed > 0) Metric(name, 0.0, d.get("unit").asText)
        else throw new IllegalStateException(s"workload did not measure $name"))
    }
    val undeclared = got.keySet -- out.map(_.name)
    require(undeclared.isEmpty, s"metrics missing from BENCHMARK.json: ${undeclared.mkString(", ")}")
    r.copy(metrics = out)
  }

  def render(r: Result): String = {
    val out = Json.obj()
    out.put("correct", r.ops.failed == 0 && r.ops.attempted > 0)
    out.put("attempted", r.ops.attempted)
    out.put("failed", r.ops.failed)
    val ms = out.putObject("metrics")
    r.metrics.foreach { m =>
      val o = ms.putObject(m.name)
      // a failed op can leave a figure undefined; JSON has no NaN
      o.put("value", if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value)
      o.put("unit", m.unit)
    }
    Json.write(out)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${workloads.mkString(", ")}")
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
    val spark = session(work)
    val result =
      try a.workload match {
        case "pipeline_cold" => PipelineBench.cold(spark, work, a)
        case "pipeline_incremental" => PipelineBench.incremental(spark, work, a)
        case "registry_tail" => RegistryBench.run(spark, root, a)
      } finally spark.stop()
    result.ops.failures.foreach(f => System.err.println(s"[perfbench] failed op $f"))
    if (result.samples.nonEmpty) println(s"perfbench ${a.workload}: ${result.samples}")
    println(render(declared(result, a.trace, root.resolve("BENCHMARK.json"))))
    if (result.ops.failed > 0) sys.exit(1)
  }
}
