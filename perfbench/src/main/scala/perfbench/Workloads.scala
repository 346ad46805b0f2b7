package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.delta.{AdaptiveMetadata, ContentTree, DeltaTable, Snapshot, Storage}

/** The oracle's verdict on one op, plus what the op planned or read. */
final case class Check(error: Option[String], kept: Long = -1L,
    live: Long = -1L, rows: Long = -1L)

/** One closed-loop operation. `exec` is the timed call into the program;
  * it returns the oracle check, which runs untimed. `laps` receives the
  * latency of named sub-calls of a composite op.
  */
final case class Op(kind: String, detail: String,
    exec: Op.Laps => () => Check)

object Op {
  type Laps = scala.collection.mutable.Map[String, Double]

  def lap[A](laps: Laps, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally laps(name) = (System.nanoTime() - t0) / 1e6
  }
}

/** What a workload needs from the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, fixtures: File,
    scratch: File, seed: Long)

/** A workload: a per-run copy of its fixture, untimed warm-up ops, and a
  * seeded op generator whose every op is checked by an oracle.
  */
abstract class Workload(ctx: Ctx) {
  def name: String
  protected val spark: SparkSession = ctx.spark
  protected val tracer: Tracer = ctx.tracer
  protected lazy val fixture: File = Fixtures.dir(ctx.fixtures, name)
  protected lazy val props: Map[String, String] = Fixtures.props(ctx.fixtures, name)
  protected val table: File = new File(ctx.scratch, "table")
  protected def path: String = table.getAbsolutePath
  /** Ops are drawn from the seed alone; warm-up ops from a fixed stream. */
  private val rng = new Random(ctx.seed)
  private var step = 0

  /** Fresh copy of the fixture table (per run; repeated to time it). */
  def prepare(): Unit = {
    Fixtures.deleteTree(table)
    Fixtures.copyTree(new File(fixture, "table"), table)
  }
  /** Ops per cycle of the generator's fixed kind sequence. */
  val cycle: Int
  /** Seconds one cycle takes on 4 cores at the time the benchmark was
    * defined; it converts a run's `--seconds` into a number of cycles.
    */
  val nominalCycleS: Double
  /** Op `i` of the sequence, its parameters drawn from `r`. */
  protected def gen(r: Random, i: Int): Op

  /** Untimed cycles run before the window. */
  protected val warmupCycles: Int = 1

  /** The warm-up ops, generated an op at a time (an op may depend on the
    * state the previous one left).
    */
  def warmup: Iterator[Op] = {
    val r = new Random(-1)
    Iterator.range(0, cycle * warmupCycles).map(gen(r, _))
  }
  def next(): Op = { step += 1; gen(rng, step - 1) }
  /** Untimed cleanup after each op. */
  def afterOp(): Unit = ()
  /** Untimed re-sync after a failed op. */
  def recover(): Unit = ()

  /** Snapshot → scan, its file list handed to a file index: the
    * metadata path every read starts with.
    */
  protected def scan(version: Option[Long], pred: Option[String]): DataFrame = {
    val snap = tracer.span("snapshot")(Snapshot.forTable(spark, path, version))
    tracer.span("scan.files") {
      val b = snap.scanBuilder()
      pred.foreach(b.withPredicate)
      b.build().toDF
    }
  }

  /** Force physical planning of `df`. */
  protected def physical(df: DataFrame): DataFrame = {
    tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
    df
  }
}

object Workload {
  val Names: Seq[String] = Seq("log_replay", "table_read", "write_mix", "tree_maint")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "log_replay" => new LogReplay(ctx)
    case "table_read" => new TableRead(ctx)
    case "write_mix" => new WriteMix(ctx)
    case "tree_maint" => new TreeMaint(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** The files a planned DataFrame reads, from its file index. */
  def plannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.inputFiles.toSeq }
      .flatten

  /** File names a stats-pruned read of tree `root` plans for `pred`. */
  def treeFiles(spark: SparkSession, snap: Snapshot,
      root: AdaptiveMetadata.ContentRoot, pred: String): Seq[String] = {
    val tableRoot = snap.tableRoot.toString
    val rootUri = Storage.fs(snap.tableRoot, spark.sessionState.newHadoopConf())
      .makeQualified(snap.tableRoot).toUri.getPath
    ContentTree.prunedAddFileIterator(spark, root.resolve(tableRoot),
      tableRoot, rootUri, pred).map(a => CommitLog.fileName(a.path)).toVector
  }

  /** Row count and XOR of the first (long) column, per partition. */
  def countAndXor(it: Iterator[InternalRow]): Iterator[(Long, Long)] = {
    var n = 0L
    var x = 0L
    while (it.hasNext) { x ^= it.next().getLong(0); n += 1 }
    Iterator((n, x))
  }
}

/** Metadata plane only: snapshot + scan planning over a log-only table,
  * under a predicate cycling through none / partition equality (at a
  * version inside the JSON tail) / range / BETWEEN (inside the tail) /
  * IN, at the latest version otherwise.
  */
final class LogReplay(ctx: Ctx) extends Workload(ctx) {
  def name = "log_replay"
  val cycle = 5
  val nominalCycleS = 7.5
  // a plan's code paths are still warming through a second cycle
  override protected val warmupCycles = 2
  private val log = Fixtures.ReplayLog
  private val span = log.numFiles.toLong * SyntheticLog.Span

  protected def gen(r: Random, i: Int): Op = {
    val c = r.nextInt(log.statsCols)
    val lo = (r.nextDouble() * span).toLong
    val hi = lo + 20 * SyntheticLog.Span
    val pred = i % 5 match {
      case 0 => LogPred.All
      case 1 => LogPred.PartEq(r.nextInt(SyntheticLog.Partitions))
      case 2 => LogPred.Range(c, lo, hi)
      case 3 => LogPred.Between(c, lo, hi)
      case _ => LogPred.InList(c, Seq.fill(2 + r.nextInt(4))(
        (r.nextDouble() * span).toLong).distinct)
    }
    // the partition and BETWEEN plans time-travel into the JSON tail
    val version =
      if (i % 5 != 1 && i % 5 != 3) None
      else Some(Fixtures.ReplayCheckpoint + 1 +
        r.nextInt((log.commits - Fixtures.ReplayCheckpoint - 1).toInt))
    val live = log.filesAt(version.getOrElse(log.commits.toLong))
    Op("plan", pred.kind, _ => {
      val df = physical(scan(version, pred.sql))
      () => {
        val planned = Workload.plannedFiles(df)
        Check(LogPred.check(log, live, pred, planned), planned.size, live)
      }
    })
  }

}

/** The data scan over a small log: a lineitem-shaped table read to rows
  * under a seeded key range, date range, partition equality or none;
  * each result is checked against plain Spark over the source rows.
  */
final class TableRead(ctx: Ctx) extends Workload(ctx) {
  import ReadOracle._
  def name = "table_read"
  val cycle = 4
  val nominalCycleS = 8.0
  private lazy val kb = props("key.bounds").split(',').map(_.toLong).toSeq
  private lazy val db = props("date.bounds").split(',').map(_.toLong).toSeq
  private lazy val live = props("files.live").toLong
  private lazy val cells = Files.readAllLines(
    new File(fixture, "oracle.tsv").toPath, StandardCharsets.UTF_8)
    .asScala.filter(_.nonEmpty).map(parseCell).toSeq

  private def bins(r: Random, n: Int): (Int, Int) = {
    val w = 1 + r.nextInt(3)
    val lo = r.nextInt(n - w + 1)
    (lo, lo + w)
  }

  protected def gen(r: Random, i: Int): Op = {
    val pred = i % 4 match {
      case 0 => val (a, b) = bins(r, kb.size - 1); KeyBins(a, b)
      case 1 => val (a, b) = bins(r, db.size - 1); DateBins(a, b)
      case 2 => Flag(Flags(r.nextInt(Flags.size)))
      case _ => Full
    }
    Op("read", pred.kind, _ => {
      val df = scan(None, pred.sql(kb, db))
      val hashed = physical(df.select(rowHash))
      val parts = tracer.span("datascan.exec")(
        hashed.queryExecution.toRdd.mapPartitions(Workload.countAndXor)
          .collect())
      () => {
        val got = parts.foldLeft((0L, 0L)) { case ((n, x), (a, b)) => (n + a, x ^ b) }
        val want = expected(cells, pred)
        val kept = Workload.plannedFiles(df).size
        Check(if (got == want) None
          else Some(s"${pred.sql(kb, db)}: (rows, checksum) $got, expected $want"),
          kept, live, got._1)
      }
    })
  }

}

/** Writes beside reads on a fresh copy of a small table, as a fixed
  * 14-op cycle: 8 single-file appends of ~10k rows, 2 reads of the
  * latest version, a DV delete and a DV update, then — after its 10
  * commits — an explicit checkpoint and a content-tree maintenance step
  * (`updateRoot` from the previous tree, then a pruned point read). The
  * seed picks batch sizes, DML targets and the probed id; a model of
  * rows and files checks every op.
  */
final class WriteMix(ctx: Ctx) extends Workload(ctx) {
  def name = "write_mix"
  override val cycle: Int = WriteMix.Cycle.size
  val nominalCycleS = 16.0
  private var model: MixModel = _
  private var root: AdaptiveMetadata.ContentRoot = _
  private def delta = DeltaTable.forPath(spark, path)

  override def prepare(): Unit = {
    super.prepare()
    val n = props("batches").toInt
    model = MixModel(props("table.version").toLong, props("rows").toLong,
      Vector.tabulate(n)(b => (b.toLong * Fixtures.MixBatchRows,
        Fixtures.MixBatchRows.toLong)), Map.empty,
      Vector.tabulate(n)(b => props(s"batch.$b.file")), Map.empty)
    root = Fixtures.root(props)
  }

  private def committed(v: Long): Option[String] =
    if (v == model.version + 1) None
    else Some(s"committed v$v, expected v${model.version + 1}")

  /** Files commit `v` added that the model does not know yet. */
  private def newFiles(v: Long): Set[String] =
    CommitLog.addedFiles(path, v).toSet -- model.liveFiles

  private def append(r: Random): Op = {
    val rows = 9000L + r.nextInt(2001)
    val df = Fixtures.mixBatch(spark, model.batches.size, model.nextId, rows)
    Op("append", "append", _ => {
      val v = tracer.span("append")(delta.append(df))
      () => {
        val err = committed(v).orElse {
          val f = newFiles(v)
          if (f.size == 1) { model = model.append(rows, f.head); None }
          else Some(s"append added ${f.size} files, expected 1")
        }
        Check(err)
      }
    })
  }

  private def dml(r: Random, delete: Boolean): Op = {
    val free = model.free
    val (b, res) = free(r.nextInt(free.size))
    val pred = s"batch = $b AND pmod(id, 10) = $res"
    Op("dml", if (delete) "delete" else "update", _ => {
      val v = tracer.span("dml")(
        if (delete) delta.deleteWhereDV(pred)
        else delta.updateWhereDV(pred, Map("v" -> "v + 1")))
      () => {
        val err = committed(v)
        if (err.isEmpty)
          model = if (delete) model.delete(b, res) else model.update(b, res, newFiles(v))
        Check(err)
      }
    })
  }

  private def read(): Op = Op("read", "latest", _ => {
    val df = physical(scan(None, None))
    val n = tracer.span("datascan.exec")(df.queryExecution.toRdd.count())
    () => Check(if (n == model.rows) None
      else Some(s"read $n rows, expected ${model.rows}"), rows = n)
  })

  private def checkpoint(): Op = Op("checkpoint", "checkpoint", _ => {
    val v = tracer.span("checkpoint")(delta.checkpoint())
    () => Check(if (v == model.version) None
      else Some(s"checkpoint at v$v, expected v${model.version}"))
  })

  private def tree(r: Random): Op = {
    val id = (r.nextDouble() * model.nextId).toLong
    Op("tree", "point", laps => {
      val snap = tracer.span("snapshot")(Snapshot.forTable(spark, path))
      val next = Op.lap(laps, "tree_update")(
        tracer.span("tree.update")(ContentTree.updateRoot(snap, root)))
      val files = Op.lap(laps, "tree_read")(
        tracer.span("tree.read")(Workload.treeFiles(spark, snap, next, s"id = $id")))
      () => {
        root = next
        Check(model.checkPoint(id, files), files.size, model.liveFiles.size)
      }
    })
  }

  /** A failed op leaves the model unknown: the run's remaining checks
    * cannot be trusted, so re-read rows and version from the table.
    */
  override def recover(): Unit = {
    val snap = Snapshot.forTable(spark, path)
    model = model.copy(version = snap.version,
      rows = snap.toDF.queryExecution.toRdd.count())
  }

  protected def gen(r: Random, i: Int): Op = WriteMix.Cycle(i % cycle) match {
    case 'A' => append(r)
    case 'R' => read()
    case 'D' => dml(r, delete = true)
    case 'U' => dml(r, delete = false)
    case 'C' => checkpoint()
    case 'T' => tree(r)
  }
}

object WriteMix {
  /** A append, R read, D DV delete, U DV update, C checkpoint, T tree step. */
  val Cycle: String = "AARADAARAUAACT"
}

/** Content-tree maintenance: fold the 2-commit tail into the base tree
  * (`updateRoot`), then plan a point predicate from the maintained tree
  * (`prunedAddFileIterator`). The new tree generation is deleted,
  * untimed, after each op.
  */
final class TreeMaint(ctx: Ctx) extends Workload(ctx) {
  def name = "tree_maint"
  val cycle = 1
  val nominalCycleS = 5.0
  private val log = Fixtures.TreeLog
  private lazy val base = Fixtures.root(props)
  private def treeDir = new File(table, "_delta_log/_amt")
  private def baseDir = base.path.split('/').take(3).last

  protected def gen(r: Random, i: Int): Op = {
    val pred = LogPred.Eq(0, (r.nextDouble() * log.numFiles * SyntheticLog.Span).toLong)
    Op("tree", pred.kind, laps => {
      val snap = tracer.span("snapshot")(Snapshot.forTable(spark, path))
      val root = Op.lap(laps, "tree_update")(
        tracer.span("tree.update")(ContentTree.updateRoot(snap, base)))
      val files = Op.lap(laps, "tree_read")(
        tracer.span("tree.read")(Workload.treeFiles(spark, snap, root, pred.sql.get)))
      () => Check(LogPred.check(log, log.numFiles, pred, files), files.size,
        log.numFiles)
    })
  }

  override def afterOp(): Unit =
    Option(treeDir.listFiles()).foreach(_.filter(_.getName != baseDir)
      .foreach(Fixtures.deleteTree))

}
