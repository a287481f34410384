package graft.perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The generator's `expect.json`: the facts the output checks compare
  * against (cell counts, injected duplicates, takedown ids). */
object Expect {
  final case class Obj(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def long(k: String): Long = node.get(k).asLong()
    def list(k: String): Seq[JsonNode] = node.get(k).elements().asScala.toSeq
  }
  def load(dir: Path): Obj =
    Obj(new ObjectMapper().readTree(dir.resolve("expect.json").toFile))
}
