package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.delta.{MetricEvent, MetricsReporter}

/** One traced interval. `parent` is 0 for an op's root span; spans made
  * from a program event (`fromEvent`) are placed by the event's arrival
  * time and reported duration.
  */
final class Span(val id: Int, var parent: Int, val op: Int, val name: String,
    var startNs: Long, var endNs: Long = -1L, val fromEvent: Boolean = false) {
  def durNs: Long = endNs - startNs
  /** Engine and event counters (jobs, tasks, io bytes, ...). */
  val counters = scala.collection.mutable.Map.empty[String, Double]
  def add(key: String, v: Double): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v
}

/** Spans recorded by the harness around its calls into each layer. One
  * client thread drives every op, so the open spans form one stack.
  * Disabled, [[span]] just runs its body. Spans stay in memory until
  * the run writes them out.
  */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext] = None) {
  private val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1

  def spans: Seq[Span] = synchronized(all.toSeq)

  /** Run `f` as the root span of op `op`. */
  def op[A](op: Int, kind: String)(f: => A): A = open(op, kind, f)

  /** Run `f` as a child of the innermost open span. */
  def span[A](name: String)(f: => A): A =
    if (!enabled || stack.isEmpty) f else open(stack.head.op, name, f)

  private def open[A](op: Int, name: String, f: => A): A = {
    if (!enabled) return f
    val s = synchronized {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0), op,
        name, System.nanoTime())
      nextId += 1
      all += s
      stack = s :: stack
      s
    }
    sc.foreach(_.setLocalProperty(SpanListener.Key, s.id.toString))
    try f finally {
      synchronized { s.endNs = System.nanoTime(); stack = stack.tail }
      sc.foreach(_.setLocalProperty(SpanListener.Key,
        stack.headOption.map(_.id.toString).orNull))
    }
  }

  /** A program event that ended at `endNs` after `durNs`: a child of the
    * innermost open span, or — when that span already is this layer —
    * merged into it. It adopts the earlier event spans it encloses (a
    * snapshot build encloses its log-segment load) and starts no earlier
    * than its parent or the preceding sibling, so siblings never
    * overlap.
    */
  def event(name: String, endNs: Long, durNs: Long): Option[Span] =
    synchronized { stack.headOption.map { p =>
      if (p.name == name) p
      else {
        val siblings = all.filter(_.parent == p.id)
        val start0 = math.max(p.startNs, endNs - durNs)
        val (inside, before) = siblings.partition(c =>
          c.fromEvent && c.startNs >= start0 && c.endNs <= endNs)
        val floor = (before.map(_.endNs) :+ p.startNs).max
        val s = new Span(nextId, p.id, p.op, name,
          math.min(endNs, math.max(start0, floor)), endNs, fromEvent = true)
        nextId += 1
        inside.foreach(_.parent = s.id)
        all += s
        s
      }
    } }

  /** Add a counter to the innermost open span. */
  def count(key: String, v: Double): Unit =
    synchronized { stack.headOption.foreach(_.add(key, v)) }
}

object Tracer {
  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to it).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      ivs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Attributes Spark jobs, and the tasks of their stages, to the span
  * whose id the submitting thread carried as a local property.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** span id → jobs, tasks, cpu ns, input, output, shuffle-write bytes */
  val perSpan = new ConcurrentHashMap[Int, Array[Long]]()

  private def bump(span: Int, i: Int, v: Long): Unit =
    perSpan.computeIfAbsent(span, _ => new Array[Long](6)).synchronized {
      perSpan.get(span)(i) += v
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .foreach { id =>
        val span = id.toInt
        bump(span, 0, 1)
        e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      bump(span, 1, 1)
      Option(e.taskMetrics).foreach { m =>
        bump(span, 2, m.executorCpuTime)
        bump(span, 3, m.inputMetrics.bytesRead)
        bump(span, 4, m.outputMetrics.bytesWritten)
        bump(span, 5, m.shuffleWriteMetrics.bytesWritten)
      }
    }

  /** Copy the engine counters onto the spans. */
  def annotate(spans: Seq[Span]): Unit = spans.foreach { s =>
    Option(perSpan.get(s.id)).foreach { c =>
      SpanListener.Counters.zip(c).foreach { case (k, v) => s.add(k, v.toDouble) }
    }
  }
}

object SpanListener {
  val Key = "perfbench.span"
  val Counters = Seq("jobs", "tasks", "executor_cpu_ns", "input_bytes",
    "output_bytes", "shuffle_write_bytes")
}

/** The program's own metric events, kept in memory as spans and
  * counters on the innermost open harness span as they arrive.
  */
final class SpanReporter(tracer: Tracer) extends MetricsReporter {
  import MetricEvent._

  override def report(e: MetricEvent): Unit = {
    val now = System.nanoTime()
    e match {
      case x: LogSegmentLoadSuccess =>
        tracer.event("logsegment", now, x.durationNs).foreach { s =>
          s.add("deltas", x.numDeltas); s.add("ckpt_parts", x.numCheckpointParts)
        }
      case x: SnapshotBuildSuccess =>
        tracer.event("snapshot", now, x.durationNs)
          .foreach(_.add("pm_source." + x.pmSource, 1))
      case x: ScanFilesCollected =>
        tracer.event("scan.files", now, x.durationNs).foreach { s =>
          s.add("files_kept", x.numFiles)
          Seq("plan_ms" -> x.planNs / 1e6, "exec_ms" -> x.execNs / 1e6,
            "scan_exec_ms" -> x.scanExecMs.toDouble,
            "dedup_exec_ms" -> x.dedupExecMs.toDouble,
            "pipeline_exec_ms" -> x.pipelineExecMs.toDouble)
            .filter(_._2 >= 0).foreach { case (k, v) => s.add(k, v); s.add(k + ".n", 1) }
        }
      case x: TransactionCommitSuccess =>
        tracer.event("commit", now, x.durationNs)
          .foreach(_.add("attempts", x.attempts))
      case x: TreeHandoff =>
        tracer.count("handoff", 1)
        if (x.shuffled) tracer.count("handoff_shuffled", 1)
      case x: IoBytes =>
        tracer.count(s"io.${x.phase}.files", x.files)
        tracer.count(s"io.${x.phase}.bytes", x.bytes)
      case _ => ()
    }
  }
}
