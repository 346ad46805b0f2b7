package perfbench

/** Turns a run's op results and spans into printed lines and metrics. */
final class Report(workload: String, ops: Seq[OpResult], say: String => Unit) {

  private def pcts(xs: Seq[Double]): String =
    Stats.reportablePercentiles(xs.size)
      .map(q => f"p$q%d_ms=${Stats.percentile(xs, q.toDouble)}%.1f").mkString(" ")

  /** Latency per op kind and per detail (predicate kind, DML kind, ...). */
  def opLines(): Unit =
    ops.groupBy(o => (o.kind, o.detail)).toSeq.sortBy(_._1).foreach {
      case ((k, d), os) =>
        val kept = os.filter(_.check.live > 0)
        val ratio =
          if (kept.isEmpty) ""
          else f" kept_ratio=${kept.map(_.check.kept).sum.toDouble / kept.map(_.check.live).sum}%.4f"
        say(s"op kind=$k detail=$d n=${os.size} ${pcts(os.map(_.ms))}$ratio")
    }

  /** The per-op-type latencies by their documented names; a tail
    * percentile only where the run gave enough samples.
    */
  def namedLines(failedFrac: Double): Unit = {
    val untraced = ops.filterNot(_.traced)
    val byType: Seq[(String, Seq[Double])] =
      untraced.groupBy(_.kind).toSeq.sortBy(_._1).flatMap {
        case ("tree", os) => Seq("tree_update", "tree_read")
          .map(l => l -> os.flatMap(_.laps.get(l)))
        case (k, os) => Seq(k -> os.map(_.ms))
      }
    val named = byType.filter(_._2.nonEmpty).flatMap { case (t, xs) =>
      Stats.reportablePercentiles(xs.size).map(q =>
        f"${t}_p$q%d_ms=${Stats.percentile(xs, q.toDouble)}%.1f")
    }
    say(s"e2e workload=$workload ops=${ops.size} " + named.mkString(" ") +
      f" failed_ops_frac=$failedFrac%.4f")
  }

  /** Per-layer metrics from the traced ops' spans. Times are the mean
    * self time per call of the layer; counts and bytes are per traced op.
    */
  def layers(spans: Seq[Span]): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val self = Tracer.selfNs(spans)
    def named(l: String) = spans.filter(_.name == l)
    def selfMs(l: String) = {
      val ss = named(l)
      if (ss.isEmpty) 0.0 else ss.map(s => self(s.id)).sum / ss.size / 1e6
    }
    def total(k: String, ss: Seq[Span] = spans) =
      ss.map(_.counters.getOrElse(k, 0.0)).sum
    def perCall(l: String, k: String) =
      if (named(l).isEmpty) 0.0 else total(k, named(l)) / named(l).size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val reads = traced.filter(_.check.live > 0)
    val rows = traced.filter(_.check.rows >= 0)

    val ms = "ms"; val count = "count"; val bytes = "bytes"
    // jobs per call of each harness span (a commit's or snapshot's jobs
    // inside a program call count towards that call's span)
    val layerJobs = Seq("snapshot", "scan.files", "catalyst.plan",
      "datascan.exec", "append", "dml", "checkpoint", "tree.update",
      "tree.read").map { l =>
      (s"${if (l == "append") "stage" else l}.jobs", perCall(l, "jobs"), count)
    }
    val scanSub = Seq("plan_ms", "exec_ms", "scan_exec_ms", "dedup_exec_ms",
      "pipeline_exec_ms").map(k =>
      (s"scan.$k", ratio(total(k), total(k + ".n")), ms))
    val io = Seq("log_segment", "data_scan", "data_write", "commit_write",
      "checkpoint_write", "tree_write").map(p =>
      (s"io.$p.bytes", total(s"io.$p.bytes") / n, bytes)) :+
      (("io.tree_write.files", total("io.tree_write.files") / n, count))
    val engine = SpanListener.Counters.map {
      case "executor_cpu_ns" => ("spark.executor_cpu_ms", total("executor_cpu_ns") / n / 1e6, ms)
      case k => (s"spark.$k", total(k) / n, if (k.endsWith("bytes")) bytes else count)
    }
    val metrics = Seq(
      ("logsegment.load_ms", selfMs("logsegment"), ms),
      ("logsegment.deltas", perCall("logsegment", "deltas"), count),
      ("logsegment.ckpt_parts", perCall("logsegment", "ckpt_parts"), count),
      ("snapshot.build_ms", selfMs("snapshot"), ms),
      ("snapshot.pm_source.crc", total("pm_source.crc") / n, count),
      ("snapshot.pm_source.commit", total("pm_source.commit") / n, count),
      ("snapshot.pm_source.checkpoint", total("pm_source.checkpoint") / n, count),
      ("scan.files_ms", selfMs("scan.files"), ms),
      ("scan.files_live", ratio(reads.map(_.check.live).sum, reads.size), count),
      ("scan.files_kept", ratio(reads.map(_.check.kept).sum, reads.size), count),
      ("skip.kept_ratio", ratio(reads.map(_.check.kept).sum,
        reads.map(_.check.live).sum), "ratio"),
      ("catalyst.plan_ms", selfMs("catalyst.plan"), ms),
      ("datascan.exec_ms", selfMs("datascan.exec"), ms),
      ("datascan.rows", ratio(rows.map(_.check.rows).sum, rows.size), count),
      ("stage.ms", selfMs("append"), ms),
      ("commit.ms", selfMs("commit"), ms),
      ("commit.attempts", perCall("commit", "attempts"), count),
      ("dml.ms", selfMs("dml"), ms),
      ("checkpoint.ms", selfMs("checkpoint"), ms),
      ("tree.update_ms", selfMs("tree.update"), ms),
      ("tree.read_ms", selfMs("tree.read"), ms),
      ("tree.handoff_shuffled", ratio(total("handoff_shuffled"), total("handoff")), "ratio"),
    ) ++ scanSub ++ io ++ engine ++ layerJobs

    selfTimeLines(spans, self)
    metrics
  }

  /** Each layer's self time, the check that an op's span self times sum
    * to its wall time, and the tracing overhead (traced − untraced
    * median latency).
    */
  private def selfTimeLines(spans: Seq[Span], self: Map[Int, Long]): Unit = {
    val roots = spans.filter(_.parent == 0)
    val wallMs = roots.map(_.durNs).sum / 1e6
    spans.groupBy(_.name).toSeq
      .map { case (l, ss) => (l, ss.size, ss.map(s => self(s.id)).sum / 1e6) }
      .sortBy(-_._3).foreach { case (l, calls, selfMs) =>
        say(f"layer $l%-14s calls=$calls%-4d self_ms=$selfMs%.1f " +
          f"share=${if (wallMs > 0) selfMs / wallMs else 0.0}%.3f")
      }
    val byOp = spans.groupBy(_.op)
    val gap = roots.map { r =>
      math.abs(byOp(r.op).map(s => self(s.id)).sum - r.durNs)
    }.maxOption.getOrElse(0L)
    say(f"self_time_check ops=${roots.size} max_abs_gap_ns=$gap")
    // traced and untraced cycles run the same op mix
    val (tr, un) = ops.partition(_.traced)
    if (tr.nonEmpty && un.nonEmpty) {
      val a = Stats.median(tr.map(_.ms)); val b = Stats.median(un.map(_.ms))
      val ta = tr.map(_.ms).sum; val tb = un.map(_.ms).sum
      say(f"trace_overhead traced_p50_ms=$a%.1f untraced_p50_ms=$b%.1f " +
        f"p50_overhead_ms=${a - b}%.1f traced_total_ms=$ta%.1f " +
        f"untraced_total_ms=$tb%.1f total_overhead_frac=${(ta - tb) / tb}%.4f " +
        s"traced_n=${tr.size} untraced_n=${un.size}")
    }
  }
}
