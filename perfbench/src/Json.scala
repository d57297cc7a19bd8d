package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** JSON in and out through Jackson (on the Spark classpath). */
object Json {
  val mapper = new ObjectMapper()

  def read(path: java.nio.file.Path): JsonNode = mapper.readTree(path.toFile)

  def obj(): ObjectNode = mapper.createObjectNode()

  def write(node: JsonNode): String = mapper.writeValueAsString(node)

  def pretty(node: JsonNode): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node)
}
