package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.delta.{Metrics, NoOpReporter}

/** The benchmark's entry point.
  *
  * {{{
  * perfbench.Main prepare --workloads W1,W2 --data DIR --cores N
  * perfbench.Main run --workload W --seed S --seconds T --trace 0|1 --data DIR --cores N
  * }}}
  *
  * `prepare` builds the workloads' one-time fixtures (a class-data
  * archive dumped when it exits then covers most classes a run loads).
  * `run` drives one workload in a closed loop (one
  * client; the next op starts when the last returns) of whole op cycles,
  * about `T` seconds of them, against `local[N]`, checks every op
  * with the workload's oracle, and prints its metrics; the last line of
  * standard output is one JSON object.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("")
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val data = new File(opt("data")).getAbsoluteFile
    val cores = opt("cores").toInt
    cmd match {
      case "prepare" =>
        val ws = opt("workloads").split(',').toSeq
        require(ws.forall(Workload.Names.contains), s"unknown workload in $ws")
        val spark = session(cores, data)
        try ws.foreach { w =>
          Fixtures.ensure(spark, new File(data, "fixtures"), w).foreach(s =>
            println(f"perfbench fixture_build_s $w=$s%.3f"))
        } finally spark.stop()
      case "run" =>
        val workload = opt("workload")
        require(Workload.Names.contains(workload), s"unknown workload $workload")
        val r = new Run(workload, opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", data, cores)
        println(r.execute())
      case other => sys.error(s"unknown command '$other'")
    }
  }

  def session(cores: Int, data: File): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    Seq("spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1",
      "spark.local.dir" -> new File(data, "spark-local").getPath,
      "spark.sql.warehouse.dir" -> new File(data, "warehouse").getPath)
      .foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One op as run: its latency, laps and oracle verdict. */
final case class OpResult(kind: String, detail: String, ms: Double,
    laps: Map[String, Double], check: Check, traced: Boolean)

final class Run(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: File, cores: Int) {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def say(s: String): Unit = println(s"perfbench $s")

  def execute(): String = {
    val jvmS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = Main.session(cores, data)
    val sessionS = secs(t0)
    val scratch = new File(data, s"run/$workload-${ProcessHandle.current().pid()}")
    Fixtures.deleteTree(scratch)
    scratch.mkdirs()
    try body(spark, scratch, jvmS, sessionS)
    finally {
      Metrics.reporter = NoOpReporter
      spark.stop()
      Fixtures.deleteTree(scratch)
    }
  }

  private def body(spark: SparkSession, scratch: File, jvmS: Double,
      sessionS: Double): String = {
    val sc = spark.sparkContext
    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(trace, Some(sc))
    val reporter = new SpanReporter(tracer)
    val wl = Workload(workload, Ctx(spark, tracer, new File(data, "fixtures"),
      scratch, seed))
    var index = 0

    def runOp(op: Op, traced: Boolean): OpResult = {
      val laps = mutable.Map.empty[String, Double]
      index += 1
      if (traced) Metrics.reporter = reporter
      val t = System.nanoTime()
      val out = Try(if (traced) tracer.op(index, op.kind)(op.exec(laps))
        else op.exec(laps))
      val ms = (System.nanoTime() - t) / 1e6
      Metrics.reporter = NoOpReporter
      val check = out match {
        case Success(oracle) => Try(oracle()).recover { case e =>
          Check(Some(s"oracle threw $e")) }.get
        case Failure(e) => Check(Some(s"op threw $e"))
      }
      wl.afterOp()
      check.error.foreach { e =>
        say(s"FAILED op=$index kind=${op.kind} detail=${op.detail}: $e")
        wl.recover()
      }
      OpResult(op.kind, op.detail, ms, laps.toMap, check, traced)
    }

    // set-up: the fixture copy is timed several times (median kept); the
    // warm-up ops pay first-use class loading and code generation
    val prepS = (1 to 3).map { _ =>
      val t = System.nanoTime(); wl.prepare(); secs(t)
    }
    val tw = System.nanoTime()
    val warm = wl.warmup.map(runOp(_, traced = false)).toVector
    val warmS = secs(tw)
    warm.foreach(o => say(f"warmup kind=${o.kind} detail=${o.detail} ms=${o.ms}%.1f"))
    val setupS = jvmS + sessionS + Stats.median(prepS) + warmS
    say(f"setup jvm_s=$jvmS%.3f session_s=$sessionS%.3f " +
      f"copy_s=${Stats.median(prepS)}%.3f warmup_s=$warmS%.3f " +
      f"warmup_ops=${warm.size}")

    // the window: a closed loop over a fixed number of whole op cycles —
    // `seconds` of work at the workload's nominal cycle time — so every
    // run measures the same op sequence at the same point of JVM warm-up.
    // A traced run doubles them and traces every other cycle.
    val cycles = math.max(1, math.round(seconds / wl.nominalCycleS).toInt)
    val ops = wl.cycle * cycles * (if (trace) 2 else 1)
    val start = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[OpResult]
    while (timed.size < ops) {
      timed += runOp(wl.next(), traced = trace && timed.size / wl.cycle % 2 == 0)
    }
    val windowS = secs(start)

    val all = warm ++ timed
    // the headline op: the workload's most frequent kind
    val headline = timed.groupBy(_.kind).values.maxBy(_.size).toSeq
    say(f"window ops=${timed.size} seconds=$windowS%.3f " +
      s"headline=${headline.head.kind} latencies_ms=" +
      timed.map(o => f"${o.kind.head}${o.ms}%.0f").mkString(","))
    val failed = all.count(_.check.error.nonEmpty)
    val report = new Report(workload, timed.toSeq, say)
    report.opLines()
    report.namedLines(failed.toDouble / all.size)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.variantMedian(headline.map(o => o.detail -> o.ms)), "ms"),
        // per second of op time: the untimed oracles and clean-up between
        // ops are the harness's work, not the program's
        ("ops_per_s", timed.size / (timed.map(_.ms).sum / 1e3), "1/s"))
      else {
        PerfbenchBus.drain(sc)
        val spans = tracer.spans
        listener.foreach(_.annotate(spans))
        writeSpans(spans)
        report.layers(spans)
      }
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": {$json}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def writeSpans(spans: Seq[Span]): Unit = {
    val self = Tracer.selfNs(spans)
    val dir = new File(data, "traces")
    dir.mkdirs()
    val f = new File(dir, s"$workload-seed$seed.json")
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      w.println(spans.map { s =>
        val cs = s.counters.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ")
        s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""name": "${s.name}", "start_ns": ${s.startNs}, """ +
          s""""end_ns": ${s.endNs}, "self_ns": ${self(s.id)}, """ +
          s""""counters": {$cs}}"""
      }.mkString(",\n"))
      w.println("]")
    } finally w.close()
    say(s"spans ${spans.size} written to ${f.getPath}")
  }
}
