package perfbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Jackson (shipped with Spark) for every file the harness reads or
  * writes; Scala maps, seqs and options serialize through the Scala
  * module, so no JSON is ever assembled by hand. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(SerializationFeature.INDENT_OUTPUT)

  def read(p: Path): JsonNode = mapper.readTree(p.toFile)

  /** Writes via a temp file and an atomic rename, so a reader never sees
    * a half-written file; any IO error propagates to the caller. */
  def write(p: Path, value: Any): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    mapper.writeValue(tmp.toFile, value)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** A JSON object as a Scala map of plain values. */
  def obj(n: JsonNode): Map[String, Any] = mapper.convertValue(n, classOf[Map[String, Any]])
}
