package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.delta.{FileNames, Storage}

/** A log-only Delta table in the reference metadata bench's shape
  * (`300k-add-files-100-col-partitioned`): `numCols` long columns
  * `c0..`, a string partition `p` with [[Partitions]] values, stats on
  * the first `statsCols` columns. No data file exists; only the log.
  *
  * The layout is a pure function of the file index, which is what lets
  * the oracles know which files can match a predicate:
  *  - file `i` sits in partition `i % Partitions`;
  *  - column `c<k>` of file `i` spans `[i*Span + k, i*Span + k + Span - 1]`.
  */
final case class SyntheticLog(commits: Int, addsPerCommit: Int,
    numCols: Int = 100, statsCols: Int = 20) {
  import SyntheticLog._

  def numFiles: Int = commits * addsPerCommit

  /** Files live at version `v` (commit k holds files of commit k only). */
  def filesAt(version: Long): Int =
    math.min(version, commits.toLong).toInt * addsPerCommit

  def path(i: Int): String = s"p=${i % Partitions}/part-$i.parquet"

  /** Inclusive `c0` range of file `i`. */
  def c0Range(i: Int): (Long, Long) = (i.toLong * Span, i.toLong * Span + Span - 1)

  def schemaJson: String = {
    val data = (0 until numCols).map(i =>
      s"""{"name":"c$i","type":"long","nullable":true,"metadata":{}}""")
    val p = """{"name":"p","type":"string","nullable":true,"metadata":{}}"""
    s"""{"type":"struct","fields":[${(data :+ p).mkString(",")}]}"""
  }

  /** Write commit 0 (protocol + metadata) and `commits` add commits. */
  def write(fs: FileSystem, root: Path): Unit = {
    val logDir = FileNames.logDir(root)
    fs.delete(root, true)
    fs.mkdirs(logDir)
    val meta =
      s"""{"metaData":{"id":"perfbench-${root.getName}","format":""" +
      s"""{"provider":"parquet","options":{}},"schemaString":""" +
      s"""${jstr(schemaJson)},"partitionColumns":["p"],""" +
      s""""configuration":{},"createdTime":$Epoch}}"""
    Storage.put(fs, FileNames.commitFile(logDir, 0L),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" +
        "\n" + meta + "\n")
    var i = 0
    (1 to commits).foreach { v =>
      val out = fs.create(FileNames.commitFile(logDir, v.toLong), false)
      val w = new BufferedWriter(
        new OutputStreamWriter(out, StandardCharsets.UTF_8), 1 << 20)
      w.write(s"""{"commitInfo":{"timestamp":${Epoch + v},""" +
        s""""operation":"WRITE","operationParameters":{}}}""")
      w.newLine()
      (0 until addsPerCommit).foreach { _ =>
        w.write(addLine(i)); w.newLine(); i += 1
      }
      w.close()
    }
  }

  private def addLine(i: Int): String = {
    val lo = i.toLong * Span
    def stat(f: Int => String) =
      (0 until statsCols).map(k => s"""\\"c$k\\":${f(k)}""").mkString(",")
    val stats =
      s"""{\\"numRecords\\":$RowsPerFile,""" +
      s"""\\"minValues\\":{${stat(k => (lo + k).toString)}},""" +
      s"""\\"maxValues\\":{${stat(k => (lo + k + Span - 1).toString)}},""" +
      s"""\\"nullCount\\":{${stat(_ => "0")}}}"""
    s"""{"add":{"path":"${path(i)}","partitionValues":""" +
    s"""{"p":"${i % Partitions}"},"size":1048576,""" +
    s""""modificationTime":${Epoch + i},"dataChange":true,""" +
    s""""stats":"$stats"}}"""
  }
}

object SyntheticLog {
  val Partitions = 64
  val Span = 1000L
  val RowsPerFile = 1000
  private val Epoch = 1700000000000L

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
