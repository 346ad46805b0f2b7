package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A predicate over a [[SyntheticLog]] table, with the set of files the
  * generator knows can match it.
  */
sealed trait LogPred {
  def sql: Option[String]
  /** Whether file `i` can hold a matching row. */
  def mayMatch(log: SyntheticLog, i: Int): Boolean
  /** Partition-only predicates must plan exactly the matching files. */
  def partitionOnly: Boolean = false
  def kind: String
}

object LogPred {
  private def overlaps(log: SyntheticLog, i: Int, c: Int, lo: Long,
      hi: Long): Boolean = {
    require(c < log.statsCols, s"c$c carries no stats")
    val (a, b) = log.c0Range(i)
    a + c <= hi && b + c >= lo
  }

  case object All extends LogPred {
    def sql: Option[String] = None
    def mayMatch(log: SyntheticLog, i: Int): Boolean = true
    override def partitionOnly = true
    def kind = "none"
  }
  final case class PartEq(p: Int) extends LogPred {
    def sql: Option[String] = Some(s"p = '$p'")
    def mayMatch(log: SyntheticLog, i: Int): Boolean =
      i % SyntheticLog.Partitions == p
    override def partitionOnly = true
    def kind = "partition"
  }
  final case class Range(c: Int, lo: Long, hi: Long) extends LogPred {
    def sql: Option[String] = Some(s"c$c >= $lo AND c$c <= $hi")
    def mayMatch(log: SyntheticLog, i: Int): Boolean =
      overlaps(log, i, c, lo, hi)
    def kind = "range"
  }
  final case class Between(c: Int, lo: Long, hi: Long) extends LogPred {
    def sql: Option[String] = Some(s"c$c BETWEEN $lo AND $hi")
    def mayMatch(log: SyntheticLog, i: Int): Boolean =
      overlaps(log, i, c, lo, hi)
    def kind = "between"
  }
  final case class InList(c: Int, values: Seq[Long]) extends LogPred {
    def sql: Option[String] = Some(s"c$c IN (${values.mkString(", ")})")
    def mayMatch(log: SyntheticLog, i: Int): Boolean =
      values.exists(v => overlaps(log, i, c, v, v))
    def kind = "in"
  }
  final case class Eq(c: Int, v: Long) extends LogPred {
    def sql: Option[String] = Some(s"c$c = $v")
    def mayMatch(log: SyntheticLog, i: Int): Boolean = overlaps(log, i, c, v, v)
    def kind = "point"
  }

  private val FileIndex = """part-(\d+)\.parquet$""".r.unanchored

  /** The file index of a planned path. */
  def fileIndex(path: String): Int = path match {
    case FileIndex(i) => i.toInt
    case _ => throw new IllegalArgumentException(s"not a synthetic file: $path")
  }

  /** The oracle: the planned files (of a table holding files
    * `0 until live`) must include every file that can match, must all
    * be live, and for a partition-only predicate must be exactly the
    * matching ones. Returns the failure, if any.
    */
  def check(log: SyntheticLog, live: Int, pred: LogPred,
      planned: Seq[String]): Option[String] = {
    val got = planned.map(fileIndex).toSet
    val want = (0 until live).filter(pred.mayMatch(log, _)).toSet
    val missing = want -- got
    val dead = got.filter(i => i < 0 || i >= live)
    if (got.size != planned.size) Some(s"${pred.sql}: duplicate files planned")
    else if (missing.nonEmpty)
      Some(s"${pred.sql}: ${missing.size} matching files not planned, " +
        s"e.g. ${missing.min}")
    else if (dead.nonEmpty) Some(s"${pred.sql}: planned dead file ${dead.min}")
    else if (pred.partitionOnly && got.size != want.size)
      Some(s"${pred.sql}: planned ${got.size} files, expected ${want.size}")
    else None
  }
}

/** The table_read oracle: plain Spark over the source rows, reduced to
  * a row count and an order-independent checksum (XOR of a 64-bit row
  * hash) per (key bin, date bin, return flag) cell. Any predicate the
  * generator draws is a union of cells, so its expected result is a
  * fold over the grid.
  */
object ReadOracle {
  val Columns: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
    "l_returnflag", "l_shipdate", "l_shipmode", "l_comment")
  val Flags: Seq[String] = Seq("A", "N", "R")

  def rowHash: Column = xxhash64(Columns.map(col): _*)

  final case class Cell(kbin: Int, dbin: Int, flag: String, count: Long,
      xor: Long) {
    def toTsv: String = s"$kbin\t$dbin\t$flag\t$count\t$xor"
  }

  def parseCell(line: String): Cell = line.split('\t') match {
    case Array(k, d, f, n, x) => Cell(k.toInt, d.toInt, f, n.toLong, x.toLong)
  }

  /** Bin of `v` under boundaries `b` (bin i is `[b(i), b(i + 1))`). */
  def binOf(b: Seq[Long], v: Long): Int = {
    var i = 0
    while (i + 2 < b.size && b(i + 1) <= v) i += 1
    i
  }

  def epochDay(d: java.sql.Date): Long = d.toLocalDate.toEpochDay

  def grid(live: DataFrame, kb: Seq[Long], db: Seq[Long]): Seq[Cell] = {
    val kbin = udf((v: Long) => binOf(kb, v))
    val dbin = udf((d: java.sql.Date) => binOf(db, epochDay(d)))
    live.groupBy(kbin(col("l_orderkey")).as("k"),
        dbin(col("l_shipdate")).as("d"), col("l_returnflag").as("f"))
      .agg(count(lit(1)).as("n"), bit_xor(rowHash).as("x"))
      .collect().toSeq
      .map(r => Cell(r.getInt(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
  }

  /** A table_read predicate: a half-open bin range on the key or the
    * ship date, a partition equality, or none.
    */
  sealed trait Pred {
    def matches(c: Cell): Boolean
    def sql(kb: Seq[Long], db: Seq[Long]): Option[String]
    def kind: String
  }
  final case class KeyBins(lo: Int, hi: Int) extends Pred {
    def matches(c: Cell): Boolean = c.kbin >= lo && c.kbin < hi
    def sql(kb: Seq[Long], db: Seq[Long]): Option[String] =
      Some(s"l_orderkey >= ${kb(lo)} AND l_orderkey < ${kb(hi)}")
    def kind = "key_range"
  }
  final case class DateBins(lo: Int, hi: Int) extends Pred {
    def matches(c: Cell): Boolean = c.dbin >= lo && c.dbin < hi
    def sql(kb: Seq[Long], db: Seq[Long]): Option[String] = {
      def d(i: Int) = LocalDate.ofEpochDay(db(i))
      Some(s"l_shipdate >= DATE'${d(lo)}' AND l_shipdate < DATE'${d(hi)}'")
    }
    def kind = "date_range"
  }
  final case class Flag(f: String) extends Pred {
    def matches(c: Cell): Boolean = c.flag == f
    def sql(kb: Seq[Long], db: Seq[Long]): Option[String] =
      Some(s"l_returnflag = '$f'")
    def kind = "partition"
  }
  case object Full extends Pred {
    def matches(c: Cell): Boolean = true
    def sql(kb: Seq[Long], db: Seq[Long]): Option[String] = None
    def kind = "full"
  }

  /** Expected (row count, checksum) of `p`. */
  def expected(cells: Seq[Cell], p: Pred): (Long, Long) =
    cells.filter(p.matches).foldLeft((0L, 0L)) { case ((n, x), c) =>
      (n + c.count, x ^ c.xor)
    }
}

/** The write_mix model: every batch holds the ids `[first, first + rows)`
  * in one file; a DML op targets one batch and one residue class of
  * `id mod 10` never targeted before, so the rows it touches are known
  * exactly. An update rewrites its rows into a new file. At most
  * [[MixModel.MaxDmlPerBatch]] classes of a batch are targeted, so no
  * batch file is ever fully deleted.
  */
final case class MixModel(version: Long, rows: Long,
    batches: Vector[(Long, Long)], used: Map[Int, Set[Int]],
    batchFiles: Vector[String], updateFiles: Map[(Int, Int), Set[String]]) {
  def nextId: Long = batches.lastOption.map { case (f, n) => f + n }.getOrElse(0L)

  /** Ids of batch `b` in residue class `r` (mod 10). */
  def residueCount(b: Int, r: Int): Long = {
    val (first, n) = batches(b)
    def upTo(x: Long) = if (x > r) (x - 1 - r) / 10 + 1 else 0L // in [0, x)
    upTo(first + n) - upTo(first)
  }

  def append(rows: Long, file: String): MixModel =
    copy(version = version + 1, rows = this.rows + rows,
      batches = batches :+ (nextId -> rows), batchFiles = batchFiles :+ file)

  def delete(b: Int, r: Int): MixModel =
    copy(version = version + 1, rows = rows - residueCount(b, r),
      used = used.updated(b, used.getOrElse(b, Set.empty) + r))

  def update(b: Int, r: Int, files: Set[String]): MixModel =
    copy(version = version + 1,
      used = used.updated(b, used.getOrElse(b, Set.empty) + r),
      updateFiles = updateFiles.updated((b, r), files))

  /** (batch, residue) pairs a DML op may still target. */
  def free: Seq[(Int, Int)] = batches.indices
    .filter(b => used.getOrElse(b, Set.empty).size < MixModel.MaxDmlPerBatch)
    .flatMap(b => (0 until 10).filterNot(used.getOrElse(b, Set.empty)).map(b -> _))

  def batchOf(id: Long): Int = batches.indexWhere { case (f, n) => id >= f && id < f + n }

  def liveFiles: Set[String] = batchFiles.toSet ++ updateFiles.values.flatten

  /** Files that can hold the row with id `id`. */
  def filesFor(id: Long): Set[String] = {
    val b = batchOf(id)
    Set(batchFiles(b)) ++ updateFiles.getOrElse((b, (id % 10).toInt), Set.empty)
  }

  /** The oracle of a point plan: every file that can hold `id` planned,
    * and nothing that is not live.
    */
  def checkPoint(id: Long, planned: Seq[String]): Option[String] = {
    val got = planned.map(CommitLog.fileName).toSet
    val missing = filesFor(id) -- got
    val dead = got -- liveFiles
    if (missing.nonEmpty) Some(s"id = $id: files not planned: ${missing.mkString(",")}")
    else if (dead.nonEmpty) Some(s"id = $id: planned files not live: ${dead.mkString(",")}")
    else None
  }
}

object MixModel {
  val MaxDmlPerBatch = 5
}
