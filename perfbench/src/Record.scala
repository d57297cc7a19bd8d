package perfbench

import java.nio.file.{Files, Paths}

import graft.sinks.ParquetSink
import graft.state.FileStateStore

/** Rewrites the committed expectations, from the repository root:
  *
  *   python3 perfbench/run.py --record registry
  *   python3 perfbench/run.py --record pipeline
  *
  * `registry` writes the row count and checksum of every listed query on
  * the fixture, from two passes that must agree. `pipeline` writes the
  * table checksums of a cold backfill (run twice, must agree) and of
  * every incremental tick, for each corpus seed. Run it only after a
  * change that is meant to change results.
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val root = Paths.get("").toAbsolutePath
    val work = root.resolve(".bench_build").resolve("work")
    val spark = Main.session(work)
    try argv.headOption match {
      case Some("registry") =>
        val names = RegistryBench.readList(root.resolve(RegistryBench.listFile))
        val data = root.resolve(RegistryBench.dataDir).toString
        def once(n: String) = {
          val v = Checksum.of(RegistryBench.force(spark, n, data))
          spark.catalog.clearCache()
          v
        }
        val out = Json.obj()
        val unstable = names.sorted.flatMap { n =>
          val (a, b) = (once(n), once(n))
          val o = out.putObject(n)
          o.put("rows", a.rows)
          o.put("sum", a.sum)
          if (a != b) Some(s"$n: $a vs $b") else None
        }
        require(unstable.isEmpty, s"results differ between two passes: ${unstable.mkString("; ")}")
        Files.writeString(root.resolve("perfbench/registry/expected.json"), Json.pretty(out) + "\n")

      case Some("pipeline") =>
        import PipelineBench._
        val out = Json.obj()
        out.put("cold_issues", ColdIssues)
        out.put("incremental_issues", IncrementalIssues)
        out.put("max_ticks", MaxTicks)
        val seeds = out.putObject("seeds")
        def put(n: com.fasterxml.jackson.databind.node.ObjectNode, cs: Map[String, Checksum.Value]): Unit =
          tables.foreach(t => n.put(t, cs(t).toString))
        for (seed <- 0 until Expected.Seeds) {
          val dir = work.resolve("record")
          rm(dir)
          val s = seeds.putObject(seed.toString)
          val cold = dir.resolve("cold").toString
          val truth = Gen.writeBase(spark, Gen.Spec(seed, ColdIssues), cold)
          val runs = (1 to 2).map { i =>
            val out = dir.resolve(s"cold$i")
            val st = new FileStateStore(out.resolve("state.json").toString)
            val stats = tick(spark, cold, new ParquetSink(out.resolve("sink").toString), st)
            check(spark, out.resolve("sink").toString, stats, st, truth, None)
          }
          require(runs(0) == runs(1), s"seed $seed: cold checksums differ between two backfills: $runs")
          put(s.putObject("cold"), runs(0))
          val spec = Gen.Spec(seed, IncrementalIssues, dupShare = 0.0)
          val corpus = dir.resolve("inc").toString
          val sink = dir.resolve("inc_sink").toString
          val st = new FileStateStore(dir.resolve("inc_state.json").toString)
          val base = Gen.writeBase(spark, spec, corpus)
          check(spark, sink, tick(spark, corpus, new ParquetSink(sink), st), st, base, None)
          val ticks = s.putArray("incremental")
          for (k <- 1 to MaxTicks) {
            val truth = Gen.appendDelta(spark, spec, k, corpus)
            put(ticks.addObject(), check(spark, sink, tick(spark, corpus, new ParquetSink(sink), st), st, truth, None))
          }
          System.err.println(s"[record] seed $seed done")
        }
        Files.createDirectories(Expected.file.getParent)
        Files.writeString(Expected.file, Json.pretty(out) + "\n")

      case other => throw new IllegalArgumentException(s"--record registry|pipeline, not $other")
    } finally spark.stop()
  }
}
