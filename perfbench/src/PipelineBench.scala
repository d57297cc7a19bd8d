package perfbench

import java.io.File
import java.nio.file.Path
import java.time.{Instant, OffsetDateTime}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.IssuePipeline
import graft.pipeline.IssuePipeline.RunStats
import graft.schema.EngineConfig
import graft.sinks.{ParquetSink, Sink}
import graft.sources.RawIssueSource
import graft.state.{FileStateStore, StateStore}

/** The paper's ETL tick: `IssuePipeline.run` over a generated raw-issue
  * corpus, stateful, into a `ParquetSink`, with a `FileStateStore`.
  *
  *  - `pipeline_cold`: repeated full backfills of the same corpus, each
  *    into a fresh sink directory with a fresh state file (no watermark).
  *  - `pipeline_incremental`: after a backfill, each tick appends a seeded
  *    delta to the corpus and runs against a state file that persists
  *    across ticks, so its scan window is exactly that delta.
  *
  * A tick is the source load plus `IssuePipeline.run`; appending the
  * delta and checking the sink happen outside the timed section.
  */
object PipelineBench {

  val ColdIssues = 12000
  val IncrementalIssues = 8000
  /** Incremental ticks with a committed expectation; a run stops there. */
  val MaxTicks = 12
  /** The median of fewer timed ticks follows the JIT's warm-up too closely.
    * An incremental tick costs a third of a cold one, so its runs afford a
    * second warm tick and more timed ones.
    */
  val MinTimedTicks = 3
  val IncrementalWarmTicks = 2
  val IncrementalMinTimedTicks = 4

  val tables: Seq[String] = Seq("issues", "issue_metrics", "issues_changelog")
  val stateKey = "last_update_at"
  val cfg: EngineConfig = EngineConfig(stateful = true)

  private val wireFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXX")
  def parseWire(s: String): Instant = OffsetDateTime.parse(s, wireFmt).toInstant

  def rm(p: Path): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(p.toFile)
  }

  /** One tick: load the corpus through the public source and run. */
  def tick(spark: SparkSession, corpus: String, sink: Sink, state: StateStore): RunStats =
    IssuePipeline.run(RawIssueSource.Parquet(corpus).load(spark), cfg, sink, Some(state), stateKey)

  /** Checks one tick's sink and state against the generator's truth and,
    * when given, the committed checksums. Returns the checksums.
    */
  def check(spark: SparkSession, sinkDir: String, stats: RunStats, state: StateStore,
            truth: Gen.Truth, want: Option[Map[String, Checksum.Value]]): Map[String, Checksum.Value] = {
    Check.equal("issues processed", stats.issuesProcessed, truth.rows)
    val got = tables.map { t =>
      val df = spark.read.parquet(s"$sinkDir/$t")
      val cs = Checksum.of(df, Set("version"))
      Check.equal(s"$t rows", cs.rows, t match {
        case "issues" => truth.keys
        case "issue_metrics" => stats.metricsRows
        case _ => stats.changelogRows
      })
      val repeated = df.groupBy(IssuePipeline.sortKeys(t).map(col): _*).count().where(col("count") > 1).count()
      Check.equal(s"$t repeated sort keys", repeated, 0L)
      t -> cs
    }.toMap
    // dedup must keep each key's newest snapshot, not an arbitrary one
    val stale = spark.read.parquet(s"$sinkDir/issues").select("issue_key", "updated_at").collect()
      .count(r => !truth.newest.get(r.getString(0)).contains(r.getTimestamp(1).toInstant))
    Check.equal("issues rows not holding their key's newest updatedAt", stale, 0)
    val wm = state.get(stateKey).getOrElse(throw new CheckFailed("no watermark committed"))
    Check.equal("committed watermark", parseWire(wm), truth.maxUpdated)
    Check.equal("RunStats watermark", stats.newWatermark, Some(wm))
    want.foreach(w => tables.foreach(t => Check.equal(s"$t checksum", got(t), w(t))))
    got
  }

  /** A tick made ready outside the timed section: where it writes, the
    * state it runs with, what the generator says it must find, and the
    * committed checksums.
    */
  final case class Prepared(name: String, sinkDir: String, state: StateStore, truth: Gen.Truth,
                            want: Option[Map[String, Checksum.Value]], done: () => Unit)

  def cold(spark: SparkSession, work: Path, a: Main.Args): Result = {
    val dir = work.resolve("pipeline_cold")
    rm(dir)
    val spec = Gen.Spec(Expected.corpusSeed(a.seed), ColdIssues)
    val corpus = dir.resolve("corpus").toString
    val truth = Gen.writeBase(spark, spec, corpus)
    val want = Expected.cold(spec.seed)
    var k = 0
    ticks(spark, corpus, a, new OpLog, () => {
      k += 1
      val out = dir.resolve(s"tick$k")
      Prepared(s"tick$k", out.resolve("sink").toString, new FileStateStore(out.resolve("state.json").toString),
        truth, Some(want), () => rm(out))
    })
  }

  def incremental(spark: SparkSession, work: Path, a: Main.Args): Result = {
    val dir = work.resolve("pipeline_incremental")
    rm(dir)
    val spec = Gen.Spec(Expected.corpusSeed(a.seed), IncrementalIssues, dupShare = 0.0)
    val corpus = dir.resolve("corpus").toString
    val sinkDir = dir.resolve("sink").toString
    val state = new FileStateStore(dir.resolve("state.json").toString)
    val want = Expected.incremental(spec.seed)
    val ops = new OpLog
    val base = Gen.writeBase(spark, spec, corpus)
    ops.run("backfill")(tick(spark, corpus, new ParquetSink(sinkDir), state)) { stats =>
      check(spark, sinkDir, stats, state, base, None)
    }
    var k = 0
    ticks(spark, corpus, a, ops, () => {
      k += 1
      require(k <= MaxTicks, s"more than $MaxTicks incremental ticks")
      Prepared(s"tick$k", sinkDir, state, Gen.appendDelta(spark, spec, k, corpus), Some(want(k - 1)), () => ())
    }, warm = IncrementalWarmTicks, minTimed = IncrementalMinTimedTicks, maxTicks = MaxTicks)
  }

  private def runOne(spark: SparkSession, corpus: String, ops: OpLog, p: Prepared,
                     sink: Sink, state: StateStore): Option[Double] =
    try ops.run(p.name)(tick(spark, corpus, sink, state)) { stats =>
      check(spark, p.sinkDir, stats, p.state, p.truth, p.want)
    } finally p.done()

  /** `warm` untimed warm ticks, then timed ticks for `a.seconds`, at least
    * `minTimed` and at most `maxTicks` ticks in all (or the traced run).
    * Every tick is checked.
    */
  private def ticks(spark: SparkSession, corpus: String, a: Main.Args, ops: OpLog,
                    prepare: () => Prepared, warm: Int = 1, minTimed: Int = MinTimedTicks,
                    maxTicks: Int = Int.MaxValue): Result = {
    def plain(): Option[Double] = {
      val p = prepare()
      runOne(spark, corpus, ops, p, new ParquetSink(p.sinkDir), p.state)
    }
    (1 to warm).foreach(_ => plain())
    val setup = Setup.elapsed()
    if (a.trace) return Result(ops, traced(spark, corpus, ops, prepare))
    val secs = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var n = warm
    do {
      plain().foreach(secs += _)
      n += 1
    } while ((n < warm + minTimed || System.nanoTime() < deadline) && n < maxTicks)
    Result(ops, if (secs.isEmpty) Nil else Seq(
      Metric("setup_s", setup, "s"),
      Metric("op_p50_s", Stats.median(secs.toSeq), "s"),
      Metric("pass_s", Stats.median(secs.toSeq), "s")),
      f"${secs.size} timed ticks, one per pass: ${secs.map(x => f"$x%.3f").mkString(" ")} s")
  }

  /** The traced run: the prefix runs over a tick's window; that tick,
    * untraced, as the overhead reference; then the next tick with the
    * listeners attached and timing wrappers around its sink and state
    * store.
    */
  private def traced(spark: SparkSession, corpus: String, ops: OpLog, prepare: () => Prepared): Seq[Metric] = {
    val canary = Canary.median(spark)
    val ref = prepare()
    val prefix = Prefixes.measure(spark, corpus, ref.state.get(stateKey))
    val untraced = runOne(spark, corpus, ops, ref, new ParquetSink(ref.sinkDir), ref.state).getOrElse(Double.NaN)
    val p = prepare()
    val tracer = new Tracer(spark)
    tracer.attach()
    val sink = new TimedSink(new ParquetSink(p.sinkDir))
    val state = new TimedStateStore(p.state)
    val span = Span(spark, tracer)
    span.resume()
    val tracedSec = ops.run(p.name) {
      val stats = tick(spark, corpus, sink, state)
      span.pause()
      stats
    } { stats =>
      check(spark, p.sinkDir, stats, p.state, p.truth, p.want)
    }.getOrElse(Double.NaN)
    val (d, exec) = span.metrics(tracedSec, untraced)
    tracer.detach()
    val lag = p.state.get(stateKey).map(w => (p.truth.maxUpdated.toEpochMilli - parseWire(w).toEpochMilli) / 1e3)
    val out = prefix ++ exec ++ written(spark, p.sinkDir) ++ tables.map(t =>
      Metric(s"sinks.write_s.$t", sink.writeSec.getOrElse(t, 0.0), "s")) ++ Seq(
      Metric("host.canary_s", canary, "s"),
      Metric("sources.schema_jobs", d("schema_jobs").toDouble, "count"),
      Metric("pipeline.actions.count", d("action.count").toDouble, "count"),
      // a V1 file write reports itself to the listener as "command"
      Metric("pipeline.actions.save", (d("action.save") + d("action.command")).toDouble, "count"),
      Metric("pipeline.actions.collect", d("action.collect").toDouble, "count"),
      Metric("pipeline.count_actions_s", d("action_ns.count") / 1e9, "s"),
      Metric("pipeline.jobs", d("jobs").toDouble, "count"),
      Metric("pipeline.stages", d("stages").toDouble, "count"),
      Metric("pipeline.tasks", d("tasks").toDouble, "count"),
      Metric("state.get_s", state.getSec, "s"),
      Metric("state.set_s", state.setSec, "s"),
      Metric("pipeline.watermark_lag_s", lag.getOrElse(Double.NaN), "s"))
    p.done()
    out
  }

  /** Sink outputs: rows and bytes per table. */
  private def written(spark: SparkSession, sinkDir: String): Seq[Metric] = tables.flatMap { t =>
    val files = Option(new File(s"$sinkDir/$t").listFiles()).getOrElse(Array.empty[File])
    Seq(Metric(s"sinks.rows_written.$t", spark.read.parquet(s"$sinkDir/$t").count().toDouble, "rows"),
      Metric(s"sinks.bytes_written.$t", files.filter(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble, "bytes"))
  }
}

/** Prefix runs: each writes one layer's public output to `noop`. Spark is
  * lazy, so a prefix re-runs every layer below it, and a layer's self
  * time is its prefix's time minus the previous prefix's time.
  */
object Prefixes {

  private def forced(df: DataFrame): (Double, Long) = {
    val o = Observation()
    val t0 = System.nanoTime()
    df.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, o.get("n").asInstanceOf[Long])
  }

  def measure(spark: SparkSession, corpus: String, watermark: Option[String]): Seq[Metric] = {
    val version = lit(new java.sql.Timestamp(System.currentTimeMillis())).cast("timestamp")
    val source = RawIssueSource.Parquet(corpus).load(spark)
    val read = Observation()
    def bounded(src: DataFrame) =
      IssuePipeline.scanFilter(PipelineBench.cfg, watermark).map(src.where).getOrElse(src)
    val (scanSec, inWindow) = forced(bounded(source.observe(read, count(lit(1)).as("n"))))
    val rowsRead = read.get("n").asInstanceOf[Long]
    val window = bounded(source)
    val payload = IssuePipeline.transform(window, PipelineBench.cfg, version)
    val deduped = IssuePipeline.dedup(payload)
    def pick(p: IssuePipeline.Payload, t: String) = t match {
      case "issues" => p.issues
      case "issue_metrics" => p.metrics
      case _ => p.changelog
    }
    val short = Map("issues" -> "issues", "issue_metrics" -> "metrics", "issues_changelog" -> "changelog")
    val layers = PipelineBench.tables.map { t =>
      val (ts, tn) = forced(pick(payload, t))
      val (ds, dn) = forced(pick(deduped, t))
      (t, ts - scanSec, tn, ds - ts, tn - dn)
    }
    Seq(
      Metric("sources.scan_s", scanSec, "s"),
      Metric("sources.rows_read", rowsRead.toDouble, "rows"),
      Metric("sources.rows_in_window", inWindow.toDouble, "rows"),
      Metric("sources.window_ratio", inWindow.toDouble / rowsRead, "share"),
      Metric("dedup.self_s", layers.map(_._4).sum, "s")) ++
      layers.flatMap { case (t, self, out, _, dropped) => Seq(
        Metric(s"transform.${short(t)}_s", self, "s"),
        Metric(s"transform.rows_out.$t", out.toDouble, "rows"),
        Metric(s"dedup.rows_dropped.$t", dropped.toDouble, "rows"))
      }
  }
}
