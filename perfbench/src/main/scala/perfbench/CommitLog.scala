package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Reads a commit straight from the log directory — the oracles' own
  * view of what a commit added, independent of the program's reader.
  */
object CommitLog {
  private val json = new ObjectMapper()

  /** File names (last path segment) of the `add` actions of commit `v`. */
  def addedFiles(table: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(table, "_delta_log", f"$v%020d.json"),
      StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(json.readTree)
      .filter(_.has("add")).map(n => fileName(n.get("add").get("path").asText()))

  def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)
}
