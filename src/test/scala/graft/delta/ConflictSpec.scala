package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Commit conflict resolution (reference transaction/mod.rs:327-590
  * CommitResult::Conflicted) and ICT-boundary time travel (reference
  * history_manager/search.rs:266). Races are made deterministic by
  * staging writer A against a captured stale snapshot, letting writer B
  * commit first, then driving A through `appendFrom`.
  */
class ConflictSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def src(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, s"v$i")).toDF("k", "s")

  test("two interleaved blind appends both land (rebase past the winner)") {
    val dir = TestSpark.tmpDir("cf-app")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    val stale = t.snapshot() // writer A reads v0
    t.append(src(1, 10))     // writer B lands v1
    val v = t.appendFrom(stale, src(11, 20)) // A: conflict at v1 -> rebase
    assert(v == 2L)
    assert(t.toDF.count() == 20)
    assert(t.toDF.select("k").as[Long].collect().toSet == (1L to 20L).toSet)
  }

  test("append racing a metadata change surfaces MetadataChangedException") {
    val dir = TestSpark.tmpDir("cf-meta")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    val stale = t.snapshot()
    t.setProperties(Map("foo" -> "bar")) // v1: metaData action
    intercept[MetadataChangedException] { t.appendFrom(stale, src(1, 5)) }
  }

  test("append racing a protocol change surfaces ProtocolChangedException") {
    val dir = TestSpark.tmpDir("cf-proto")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    val stale = t.snapshot()
    t.commit(Some(stale), "UPGRADE PROTOCOL", protocol = Some(
      TableFeatures.upgraded(stale.protocol, Nil, Seq("domainMetadata"))))
    intercept[ProtocolChangedException] { t.appendFrom(stale, src(1, 5)) }
  }

  test("same-appId transaction race surfaces " +
      "ConcurrentTransactionException") {
    val dir = TestSpark.tmpDir("cf-txn")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    val stale = t.snapshot()
    t.append(src(1, 5), txn = Some(SetTransaction("etl", 1, None)))
    intercept[ConcurrentTransactionException] {
      t.appendFrom(stale, src(6, 9),
        txn = Some(SetTransaction("etl", 2, None)))
    }
    // a DIFFERENT appId rebases fine
    val v = t.appendFrom(stale, src(6, 9),
      txn = Some(SetTransaction("other", 1, None)))
    assert(v == 2L)
  }

  test("reads-based commit racing any writer surfaces " +
      "ConcurrentWriteException") {
    val dir = TestSpark.tmpDir("cf-del")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))
    val snap1 = t.snapshot()
    // occupy the version the reads-based commit will try
    val add = t.scan(None).collectAddFiles().head
    t.commit(Some(snap1), "WRITE",
      adds = Seq(add.copy(path = add.path + ".dup")))
    // deleteWhere computes against v2 now; fake staleness by committing
    // another version under it through the conflict path directly
    val ex = intercept[ConcurrentWriteException] {
      t.commit(Some(snap1), "DELETE", removes = Seq(RemoveFile(
        add.path, Some(System.currentTimeMillis()), dataChange = true)))
    }
    assert(!ex.isInstanceOf[MetadataChangedException])
  }

  test("DELETE rebases past a provably-disjoint concurrent append") {
    val dir = TestSpark.tmpDir("cf-disjoint")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10).repartition(1)) // v1: ONE file our DELETE rewrites
    val snap = t.snapshot()
    val victim = t.scan(None).collectAddFiles().head
    t.append(src(100, 110))          // v2 lands first: k stats 100..110
    // our DELETE (k < 50) planned against v1 tries v2 — the winner's
    // stats prove no added row can match, so it must land at v3
    val v = t.commit(Some(snap), "DELETE", removes = Seq(RemoveFile(
        victim.path, Some(System.currentTimeMillis()), dataChange = true)),
      policy = DeltaTable.Reads(DeltaTable.ReadSet(Some("k < 50"))))
    assert(v == 3L)
    // the delete landed after the disjoint append: only 100..110 remain
    assert(t.toDF.select("k").as[Long].collect().toSet ==
      (100L to 110L).toSet)
  }

  test("row-tracking DELETE never rebases with stale row ids") {
    val dir = TestSpark.tmpDir("cf-rt")
    DeltaTable.create(spark, dir, src(1, 1).schema,
      configuration = Map(RowTracking.ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10).repartition(1)) // v1: row ids 0..9
    // a committer that lets a provably-disjoint append (k 100..109, row
    // ids 10..19) win the version the DELETE planned for, once
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racing = new Committer {
      def commit(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
          version: Long, content: String): CommitResponse = {
        if (raced.compareAndSet(false, true))
          t.append(src(100, 109).repartition(1))
        FileSystemCommitter.commit(fs, logDir, version, content)
      }
      def isCatalogCommitter: Boolean = false
      def publish(fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
          commits: Seq[CatalogCommit]): Unit =
        FileSystemCommitter.publish(fs, logDir, commits)
    }
    // the DELETE's new file took ids from the v1 high-water mark: it
    // must fail rather than land past the winner with ids it owns
    intercept[ConcurrentWriteException] {
      DeltaTable.forPath(spark, dir, racing).deleteWhere("k < 5")
    }
    assert(raced.get)
    val ids = t.scan(None).toDFWithRowIds.select("_row_id").as[Long]
      .collect()
    assert(ids.length == 20 && ids.distinct.length == 20, ids.sorted.toSeq)
    assert(RowTracking.highWaterMark(t.snapshot()) == 19L)
  }

  test("DELETE racing an overlapping append surfaces " +
      "ConcurrentAppendException") {
    val dir = TestSpark.tmpDir("cf-overlap")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))
    val snap = t.snapshot()
    val victim = t.scan(None).collectAddFiles().head
    t.append(src(20, 60)) // overlaps predicate k < 50
    intercept[ConcurrentAppendException] {
      t.commit(Some(snap), "DELETE", removes = Seq(RemoveFile(
          victim.path, Some(System.currentTimeMillis()), dataChange = true)),
        policy = DeltaTable.Reads(DeltaTable.ReadSet(Some("k < 50"))))
    }
  }

  test("two DELETEs removing the same file surface " +
      "ConcurrentDeleteDeleteException") {
    val dir = TestSpark.tmpDir("cf-deldel")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 10))
    val snap = t.snapshot()
    val victim = t.scan(None).collectAddFiles().head
    t.deleteWhere("k <= 10") // winner removes the same file
    intercept[ConcurrentDeleteDeleteException] {
      t.commit(Some(snap), "DELETE", removes = Seq(RemoveFile(
          victim.path, Some(System.currentTimeMillis()), dataChange = true)),
        policy = DeltaTable.Reads(DeltaTable.ReadSet(Some("k < 5"))))
    }
  }

  test("rebased append keeps in-commit timestamps strictly monotonic") {
    val dir = TestSpark.tmpDir("cf-ict")
    DeltaTable.create(spark, dir, src(1, 1).schema,
      configuration = Map(DeltaTable.ICT_ENABLED_KEY -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val stale = t.snapshot() // v0
    t.append(src(1, 5)) // v1, carries some ICT
    // inflate v1's ICT far into the future to prove the retry re-reads
    // its actual predecessor rather than the stale snapshot's
    val root = new Path(dir)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val c1 = FileNames.commitFile(FileNames.logDir(root), 1L)
    val future = System.currentTimeMillis() + 3600_000L
    val patched = Storage.readLines(fs, c1).map(l =>
      l.replaceAll("\"inCommitTimestamp\":\\d+",
        s""""inCommitTimestamp":$future"""))
    fs.delete(c1, false)
    Storage.put(fs, c1, patched.mkString("", "\n", "\n"))

    t.appendFrom(stale, src(6, 9)) // rebases to v2
    def ictOf(v: Long): Long = Storage.readLines(fs,
      FileNames.commitFile(FileNames.logDir(root), v)).iterator
      .map(JsonLog.parseLine)
      .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
      .flatMap(ci => Option(ci.get("inCommitTimestamp"))
        .filterNot(_.isNull).map(_.asLong))
      .next()
    assert(ictOf(2L) > future, "retry must derive ICT from the actual " +
      "predecessor (the winning commit), not the stale snapshot")
  }

  test("timestamp time travel across a mid-log ICT enablement boundary") {
    val dir = TestSpark.tmpDir("ict-mid")
    DeltaTable.create(spark, dir, src(1, 1).schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src(1, 3))  // v1
    t.append(src(4, 6))  // v2
    val root = new Path(dir)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(root)
    // deterministic pre-ICT mtimes: v0=10s, v1=20s, v2=30s
    Seq(0L, 1L, 2L).foreach(v => fs.setTimes(
      FileNames.commitFile(logDir, v), (v + 1) * 10000L, -1))

    t.setProperties(Map(DeltaTable.ICT_ENABLED_KEY -> "true")) // v3
    t.append(src(7, 9)) // v4
    val conf = t.snapshot().metadata.configuration
    assert(conf(DeltaTable.ICT_ENABLEMENT_VERSION_KEY) == "3")
    val enableTs = conf(DeltaTable.ICT_ENABLEMENT_TIMESTAMP_KEY).toLong
    val ict4 = {
      val lines = Storage.readLines(fs, FileNames.commitFile(logDir, 4L))
      lines.iterator.map(JsonLog.parseLine)
        .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
        .flatMap(ci => Option(ci.get("inCommitTimestamp"))
          .filterNot(_.isNull).map(_.asLong)).next()
    }
    // corrupt post-boundary mtimes to prove the ICT régime ignores them
    // (they'd otherwise binary-search as "older than v0")
    Seq(3L, 4L).foreach(v => fs.setTimes(
      FileNames.commitFile(logDir, v), 1000L + v, -1))

    assert(t.versionAtTimestamp(15000L) == 0L)
    assert(t.versionAtTimestamp(20000L) == 1L)
    assert(t.versionAtTimestamp(25000L) == 1L)
    assert(t.versionAtTimestamp(30000L) == 2L)
    // the gap between last mtime and the ICT era resolves to the last
    // pre-ICT commit
    assert(t.versionAtTimestamp(enableTs - 1) == 2L)
    assert(t.versionAtTimestamp(enableTs) == 3L)
    assert(t.versionAtTimestamp(ict4) == 4L)
    assert(t.versionAtTimestamp(ict4 + 100000L) == 4L)
    intercept[IllegalArgumentException] { t.versionAtTimestamp(5000L) }
    // and the resolved versions actually read
    assert(t.snapshot(Some(t.versionAtTimestamp(30000L))).toDF.count() == 6)
  }
}
