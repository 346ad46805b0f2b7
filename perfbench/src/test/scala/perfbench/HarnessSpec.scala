package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The harness's own logic: percentiles, span self time, oracles. */
class HarnessSpec extends AnyFunSuite {

  test("nearest-rank percentile and median") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("variant median: geometric mean of per-variant medians") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    val xs = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 100.0, "b" -> 8.0)
    assert(math.abs(Stats.variantMedian(xs) - 4.0) < 1e-12) // sqrt(2 * 8)
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(Stats.reportablePercentiles(1) == Seq(50))
    assert(Stats.reportablePercentiles(99) == Seq(50))
    assert(Stats.reportablePercentiles(100) == Seq(50, 90))
    assert(Stats.reportablePercentiles(999) == Seq(50, 90))
    assert(Stats.reportablePercentiles(1000) == Seq(50, 90, 99))
    assert(!Stats.reportable(50, 0))
  }

  private def span(id: Int, parent: Int, start: Long, end: Long) =
    new Span(id, parent, 1, s"s$id", start, end)

  test("self time subtracts the union of the children, clipped") {
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
      span(4, 1, 90, 120), span(5, 3, 25, 35))
    val self = Tracer.selfNs(spans)
    assert(self(1) == 100 - 40 - 10) // [10,50) and [90,100)
    assert(self(3) == 30 - 10)
    assert(self(5) == 10)
  }

  test("self times of disjoint nested spans sum to the root's duration") {
    val spans = Seq(span(1, 0, 0, 1000), span(2, 1, 0, 400), span(3, 2, 50, 150),
      span(4, 2, 150, 390), span(5, 1, 400, 1000), span(6, 5, 500, 600))
    assert(Tracer.selfNs(spans).values.sum == 1000)
  }

  test("event spans nest by time and never overlap their siblings") {
    val t = new Tracer(enabled = true)
    t.op(1, "op") {
      t.span("append") {
        Thread.sleep(5)
        val segEnd = System.nanoTime()
        t.event("logsegment", segEnd, 2000000L)
        Thread.sleep(5)
        // the snapshot build encloses the segment load reported before it
        t.event("snapshot", System.nanoTime(), System.nanoTime() - segEnd + 3000000L)
        Thread.sleep(2)
        // a commit claiming to start inside the snapshot is clipped to
        // start where it ended
        val snapEnd = t.spans.find(_.name == "snapshot").get.endNs
        val end = System.nanoTime()
        t.event("commit", end, end - snapEnd + 1000000L)
      }
    }
    val spans = t.spans
    def named(n: String) = spans.find(_.name == n).get
    assert(named("logsegment").parent == named("snapshot").id)
    assert(named("snapshot").parent == named("append").id)
    assert(named("commit").startNs >= named("snapshot").endNs)
    val self = Tracer.selfNs(spans)
    assert(self.values.forall(_ >= 0))
    assert(self.values.sum == named("op").durNs)
  }

  test("an event of the open span's own layer merges into it") {
    val t = new Tracer(enabled = true)
    t.op(1, "op")(t.span("snapshot")(
      t.event("snapshot", System.nanoTime(), 1000L).foreach(_.add("pm_source.crc", 1))))
    assert(t.spans.map(_.name) == Seq("op", "snapshot"))
    assert(t.spans(1).counters("pm_source.crc") == 1.0)
  }

  test("a disabled tracer records nothing") {
    val t = new Tracer(enabled = false)
    assert(t.op(1, "op")(t.span("x")(42)) == 42)
    assert(t.spans.isEmpty)
  }

  private val log = SyntheticLog(commits = 4, addsPerCommit = 100)
  private def files(is: Iterable[Int]) = is.map(log.path).toSeq

  test("log oracle: a superset of the matching files passes") {
    val p = LogPred.Range(3, 5000, 7000) // c3 of file i spans [1000i+3, 1000i+1002]
    assert((0 until 400).filter(p.mayMatch(log, _)) == (4 to 6))
    assert(LogPred.check(log, 400, p, files(3 to 8)).isEmpty)
    assert(LogPred.check(log, 400, LogPred.Between(3, 5000, 7000),
      files(0 until 400)).isEmpty)
  }

  test("log oracle: a missing or dead file fails") {
    val p = LogPred.Eq(0, 5500)
    assert(LogPred.check(log, 400, p, Nil).nonEmpty)
    assert(LogPred.check(log, 200, p, files(Seq(5, 300))).nonEmpty)
    assert(LogPred.check(log, 400, p, files(Seq(5, 5))).nonEmpty)
  }

  test("log oracle: partition-only predicates must match exactly") {
    val p = LogPred.PartEq(7)
    val want = (0 until 400).filter(_ % SyntheticLog.Partitions == 7)
    assert(LogPred.check(log, 400, p, files(want)).isEmpty)
    assert(LogPred.check(log, 400, p, files(want :+ 8)).nonEmpty)
    assert(LogPred.check(log, 300, LogPred.All, files(0 until 300)).isEmpty)
    assert(LogPred.check(log, 300, LogPred.All, files(0 until 299)).nonEmpty)
  }

  test("read oracle: bins and predicates fold the grid") {
    import ReadOracle._
    val b = Seq(0L, 10L, 20L, 31L)
    assert(Seq(0L, 9L, 10L, 25L, 30L, 99L).map(binOf(b, _)) == Seq(0, 0, 1, 2, 2, 2))
    val cells = Seq(Cell(0, 0, "A", 3, 0x1), Cell(1, 0, "N", 4, 0x2),
      Cell(1, 1, "R", 5, 0x4), Cell(2, 1, "N", 6, 0x8))
    assert(expected(cells, KeyBins(1, 3)) == (15L, 0xe))
    assert(expected(cells, DateBins(0, 1)) == (7L, 0x3))
    assert(expected(cells, Flag("N")) == (10L, 0xa))
    assert(expected(cells, Full) == (18L, 0xf))
    assert(cells.map(c => parseCell(c.toTsv)) == cells)
  }

  private val mix = MixModel(version = 2, rows = 25, batches = Vector((0L, 10L), (10L, 15L)),
    used = Map.empty, batchFiles = Vector("a", "b"), updateFiles = Map.empty)

  test("write model: residue counts match a brute-force count") {
    for (b <- 0 to 1; r <- 0 until 10) {
      val (f, n) = mix.batches(b)
      assert(mix.residueCount(b, r) == (f until f + n).count(_ % 10 == r), (b, r))
    }
  }

  test("write model: rows, versions and files follow the ops") {
    val m = mix.append(7, "c").delete(1, 3).update(0, 4, Set("u"))
    assert(m.version == 5)
    assert(m.rows == 25 + 7 - 2) // ids 13 and 23
    assert(m.liveFiles == Set("a", "b", "c", "u"))
    assert(m.filesFor(4) == Set("a", "u"))
    assert(m.filesFor(5) == Set("a"))
    assert(m.checkPoint(4, Seq("x/a", "u")).isEmpty)
    assert(m.checkPoint(4, Seq("a")).nonEmpty)
    assert(m.checkPoint(5, Seq("a", "gone")).nonEmpty)
  }

  test("write model: a batch takes at most MaxDmlPerBatch DML ops") {
    val m = (0 until MixModel.MaxDmlPerBatch).foldLeft(mix)((m, r) => m.delete(0, r))
    assert(m.free.forall(_._1 == 1))
    assert(m.free.size == 10)
  }
}
