package perfbench

import java.nio.file.Paths

import com.fasterxml.jackson.databind.JsonNode

/** Committed pipeline checksums (perfbench/expected/pipeline.json), one
  * set per corpus seed. A run's corpus seed is its `--seed` modulo
  * [[Seeds]], so every run, whatever its seed, has an expectation.
  */
object Expected {
  val Seeds = 16
  val file = Paths.get("perfbench/expected/pipeline.json")

  def corpusSeed(seed: Long): Long = Math.floorMod(seed, Seeds.toLong)

  private lazy val root: JsonNode = {
    val n = Json.read(file)
    Check.equal(s"$file cold corpus size", n.get("cold_issues").asInt, PipelineBench.ColdIssues)
    Check.equal(s"$file incremental corpus size", n.get("incremental_issues").asInt, PipelineBench.IncrementalIssues)
    Check.equal(s"$file incremental ticks", n.get("max_ticks").asInt, PipelineBench.MaxTicks)
    n
  }

  def tablesOf(n: JsonNode): Map[String, Checksum.Value] =
    PipelineBench.tables.map { t =>
      val parts = n.get(t).asText.split("/")
      t -> Checksum.Value(parts(0).toLong, parts(1))
    }.toMap

  private def seedNode(seed: Long): JsonNode =
    Option(root.get("seeds").get(seed.toString)).getOrElse(throw new CheckFailed(s"no expectation for corpus seed $seed"))

  def cold(seed: Long): Map[String, Checksum.Value] = tablesOf(seedNode(seed).get("cold"))

  def incremental(seed: Long): IndexedSeq[Map[String, Checksum.Value]] = {
    val ticks = seedNode(seed).get("incremental")
    (0 until ticks.size).map(i => tablesOf(ticks.get(i)))
  }
}
