package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the run artifact and the inputs' ground truth. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def writeFile(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    mapper.writeValue(p.toFile, v)
  }
}
