package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.ParquetSink
import graft.state.FileStateStore

/** The benchmark's own tests, from the repository root:
  *
  *   python3 perfbench/run.py --selftest
  *
  * Prints one line per test and exits 1 when any test fails.
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try {
      body
      println(s"PASS $name")
    } catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def expectFailure(what: String)(body: => Any): Unit = {
    val failed = try { body; false } catch { case _: CheckFailed => true }
    if (!failed) throw new AssertionError(s"$what passed its check")
  }

  private def assertEq[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(argv: Array[String]): Unit = {
    test("median of an odd, an even and a one-value sample") {
      assertEq("odd", Stats.median(Seq(5.0, 1.0, 3.0)), 3.0)
      assertEq("even", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
      assertEq("one", Stats.median(Seq(7.0)), 7.0)
    }
    test("a failing op is counted and records no time") {
      val ops = new OpLog
      assertEq("ok op", ops.run("ok")(1)(_ => ()).isDefined, true)
      assertEq("throwing op", ops.run("throws")(sys.error("boom"))(_ => ()), None)
      assertEq("wrong output", ops.run("wrong")(1)(v => Check.equal("v", v, 2)), None)
      assertEq("attempted / failed", (ops.attempted, ops.failed), (3, 2))
      val line = Main.render(Result(ops, Seq(Metric("op_p50_s", 1.0, "s"))))
      val json = Json.mapper.readTree(line)
      assertEq("correct", json.get("correct").asBoolean, false)
      assertEq("failed", json.get("failed").asInt, 2)
    }

    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("selftest")
    PipelineBench.rm(work)
    val spark = Main.session(work)
    try sparkTests(spark, work) finally spark.stop()
    PipelineBench.rm(work)
    if (failures > 0) {
      println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }

  private def sparkTests(spark: SparkSession, work: Path): Unit = {
    def corpus(seed: Long, name: String) = {
      val dir = work.resolve(name).toString
      val truth = Gen.writeBase(spark, Gen.Spec(seed, 300), dir)
      (Checksum.of(spark.read.parquet(dir)), truth)
    }
    test("the same seed gives the same corpus checksum") {
      val (a, ta) = corpus(7, "a")
      val (b, tb) = corpus(7, "b")
      val (c, _) = corpus(8, "c")
      assertEq("checksum", a, b)
      assertEq("truth", ta, tb)
      assertEq("another seed differs", a == c, false)
    }
    test("checksums ignore row order and see a changed value") {
      val df = spark.range(1000).select(col("id"), (col("id") * 0.1).as("x"))
      assertEq("reordered", Checksum.of(df.orderBy(col("id").desc).repartition(3)), Checksum.of(df))
      assertEq("changed", Checksum.of(df.withColumn("x", when(col("id") === 5, 0.0).otherwise(col("x")))) ==
        Checksum.of(df), false)
    }

    val dir = work.resolve("tick")
    val corpusDir = dir.resolve("corpus").toString
    val spec = Gen.Spec(3, 300)
    val truth = Gen.writeBase(spark, spec, corpusDir)
    val sinkDir = dir.resolve("sink").toString
    val state = new FileStateStore(dir.resolve("state.json").toString)
    val stats = PipelineBench.tick(spark, corpusDir, new ParquetSink(sinkDir), state)
    val good = PipelineBench.check(spark, sinkDir, stats, state, truth, None)

    test("a correct tick passes its checks, and dedup drops the older snapshots") {
      PipelineBench.check(spark, sinkDir, stats, state, truth, Some(good))
      assertEq("raw rows > keys", truth.rows > truth.keys, true)
    }
    test("a wrong committed checksum fails the check") {
      val wrong = good.updated("issues", good("issues").copy(sum = "1"))
      expectFailure("wrong checksum")(PipelineBench.check(spark, sinkDir, stats, state, truth, Some(wrong)))
    }
    /** Runs `body` with sink table `t` replaced by `altered`, then puts
      * the original back, so each test sees only its own defect.
      */
    def withTable(t: String, altered: DataFrame => DataFrame)(body: => Unit): Unit = {
      val (live, kept, tmp) = (new java.io.File(s"$sinkDir/$t"), new java.io.File(s"$sinkDir/${t}_kept"),
        s"$sinkDir/${t}_altered")
      altered(spark.read.parquet(live.getPath)).write.parquet(tmp)
      live.renameTo(kept)
      new java.io.File(tmp).renameTo(live)
      try body finally {
        PipelineBench.rm(live.toPath)
        kept.renameTo(live)
      }
    }
    test("an issue row from an older snapshot of its key fails the check") {
      val key = spark.read.parquet(s"$sinkDir/issues").agg(min(col("issue_key"))).head().getString(0)
      withTable("issues", _.withColumn("updated_at",
        when(col("issue_key") === key, col("updated_at") - expr("INTERVAL 1 SECOND")).otherwise(col("updated_at")))) {
        expectFailure("stale snapshot")(PipelineBench.check(spark, sinkDir, stats, state, truth, None))
      }
    }
    test("a sink table that lost a row fails the check") {
      withTable("issue_metrics", _.orderBy(col("issue_key"), col("status_name")).offset(1)) {
        expectFailure("lost row")(PipelineBench.check(spark, sinkDir, stats, state, truth, None))
      }
    }
    test("a wrong watermark fails the check") {
      state.set(PipelineBench.stateKey, Gen.wire(truth.maxUpdated.minusSeconds(1), java.time.ZoneOffset.UTC))
      expectFailure("stale watermark")(PipelineBench.check(spark, sinkDir, stats, state, truth, None))
    }
    test("a query whose result differs from its expectation fails") {
      val data = Paths.get(RegistryBench.dataDir).toAbsolutePath.toString
      val want = RegistryBench.expected(Paths.get("").toAbsolutePath)
      val got = Checksum.of(RegistryBench.force(spark, "a2_count_by_type", data))
      Check.equal("a2_count_by_type", got, want("a2_count_by_type"))
      expectFailure("off by one row")(
        Check.equal("a2_count_by_type", got.copy(rows = got.rows + 1), want("a2_count_by_type")))
    }
  }
}
