package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.delta.{AdaptiveMetadata, ContentTree, DeltaTable, Snapshot, Storage}

/** One-time fixtures, one directory per workload under the benchmark's
  * own data directory. Every fixture is a pure function of the constants
  * below (no seed): the run seed only chooses the operations. A fixture
  * is complete once its `fixture.properties` exists.
  */
object Fixtures {
  /** log_replay: a log-only table in the reference's 100-column
    * partitioned shape at 12k of its 300k adds, with a classic
    * checkpoint and a 5-commit JSON tail (~6 MB) past the 4 MiB
    * driver-replay cap.
    */
  val ReplayLog = SyntheticLog(commits = 12, addsPerCommit = 1000)
  val ReplayCheckpoint = 7L

  /** tree_maint: the same shape; the base tree sits two commits behind
    * the head, so each update folds a 2-commit tail into it.
    */
  val TreeLog = SyntheticLog(commits = 10, addsPerCommit = 1000)
  val TreeBase = 8L

  /** table_read: a lineitem-shaped table appended in [[ReadChunks]]
    * key-ordered chunks, partitioned by `l_returnflag`.
    */
  val ReadRows = 600000L
  val ReadChunks = 18
  val ReadCheckpointAfter = 16 // then the 2 remaining chunks as JSON
  val Bins = 16
  /** The DV delete run after chunk [[ReadCheckpointAfter]] (≈2% of rows). */
  val ReadDeleteSql = "pmod(l_orderkey, 50) = 7"

  /** write_mix: the small seed table every run copies. */
  val MixSeedBatches = 5
  val MixBatchRows = 10000

  def dir(root: File, workload: String): File = new File(root, workload)

  def props(root: File, workload: String): Map[String, String] = {
    val f = new File(dir(root, workload), "fixture.properties")
    val p = new java.util.Properties()
    val in = Files.newInputStream(f.toPath)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  def ready(root: File, workload: String): Boolean =
    new File(dir(root, workload), "fixture.properties").isFile

  /** Build the fixture of `workload` unless it exists; returns the
    * seconds spent building it.
    */
  def ensure(spark: SparkSession, root: File, workload: String): Option[Double] =
    if (ready(root, workload)) None
    else {
      val build = workload match {
        case "log_replay" => buildReplay _
        case "table_read" => buildRead _
        case "write_mix" => buildMix _
        case "tree_maint" => buildTree _
      }
      val d = dir(root, workload)
      deleteTree(d)
      d.mkdirs()
      val t0 = System.nanoTime()
      writeProps(new File(d, "fixture.properties"), build(spark, d))
      Some((System.nanoTime() - t0) / 1e9)
    }

  private def table(d: File) = new File(d, "table").getAbsolutePath

  private def buildReplay(spark: SparkSession, d: File): Map[String, String] = {
    writeLog(spark, ReplayLog, table(d))
    DeltaTable.forPath(spark, table(d)).checkpoint(Some(ReplayCheckpoint))
    Map("commits" -> ReplayLog.commits.toString)
  }

  private def buildTree(spark: SparkSession, d: File): Map[String, String] = {
    writeLog(spark, TreeLog, table(d))
    rootProps(ContentTree.writeRoot(
      Snapshot.forTable(spark, table(d), Some(TreeBase))))
  }

  private def writeLog(spark: SparkSession, log: SyntheticLog,
      path: String): Unit = {
    val root = new Path(path)
    log.write(Storage.fs(root, spark.sessionState.newHadoopConf()), root)
  }

  /** The lineitem-shaped source rows, a pure function of the row id:
    * 4 lines per order; ship dates drift with the order key (so both
    * key and date ranges are stats-prunable) plus up to 120 days of
    * jitter.
    */
  def lineitem(spark: SparkSession): DataFrame = {
    def h(salt: Int) = pmod(xxhash64(col("id"), lit(salt)), lit(1L << 30))
    spark.range(0, ReadRows, 1, 8).select(
      (col("id") / 4).cast(LongType).as("l_orderkey"),
      (h(1) % 200000).as("l_partkey"),
      (h(2) % 10000).as("l_suppkey"),
      (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
      (h(3) % 50 + 1).cast(DoubleType).as("l_quantity"),
      ((h(4) % 10000000) / 100.0).as("l_extendedprice"),
      ((h(5) % 11) / 100.0).as("l_discount"),
      element_at(array(lit("R"), lit("A"), lit("N"), lit("N")),
        (h(6) % 4 + 1).cast(IntegerType)).as("l_returnflag"),
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        ((col("id") * 2400 / ReadRows) + h(7) % 120).cast(IntegerType))
        .as("l_shipdate"),
      element_at(array(Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK",
        "FOB", "REG AIR").map(lit): _*), (h(8) % 7 + 1).cast(IntegerType))
        .as("l_shipmode"),
      concat(lit("comment "), (h(9) % 100000).cast(StringType))
        .as("l_comment"))
  }

  /** Order-key boundary of append chunk `c` (chunk c holds keys in
    * `[chunkKey(c), chunkKey(c + 1))`).
    */
  def chunkKey(c: Int): Long = c * (ReadRows / 4) / ReadChunks

  private def buildRead(spark: SparkSession, d: File): Map[String, String] = {
    val source = new File(d, "source").getAbsolutePath
    lineitem(spark).write.parquet(source)
    val src = spark.read.parquet(source)
    val t = DeltaTable.create(spark, table(d), src.schema,
      partitionColumns = Seq("l_returnflag"),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    def chunk(c: Int) = src
      .filter(col("l_orderkey") >= chunkKey(c) &&
        col("l_orderkey") < chunkKey(c + 1))
      .coalesce(1)
    (0 until ReadCheckpointAfter).foreach(c => t.append(chunk(c)))
    t.deleteWhereDV(ReadDeleteSql)
    t.checkpoint()
    (ReadCheckpointAfter until ReadChunks).foreach(c => t.append(chunk(c)))

    // the oracle: plain Spark over the source parquet minus the rows the
    // DV delete removed, pre-aggregated per (key bin, date bin, flag)
    val deleted = expr(ReadDeleteSql) &&
      col("l_orderkey") < chunkKey(ReadCheckpointAfter)
    val live = src.filter(!deleted)
    val kq = quantiles(live, "l_orderkey")
    val dq = quantiles(live.select(
      datediff(col("l_shipdate"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast(LongType).as("d")), "d")
    val grid = ReadOracle.grid(live, kq, dq)
    Files.write(new File(d, "oracle.tsv").toPath,
      grid.map(_.toTsv).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    val snap = Snapshot.forTable(spark, table(d))
    Map("key.bounds" -> kq.mkString(","), "date.bounds" -> dq.mkString(","),
      "files.live" -> snap.scanBuilder().build().collectAddFiles()
        .size.toString)
  }

  /** [[Bins]] + 1 bin boundaries: the min, the 1/Bins .. (Bins-1)/Bins
    * quantiles, and max + 1 (so bin `i` is `[b(i), b(i + 1))`).
    */
  private def quantiles(df: DataFrame, c: String): Seq[Long] = {
    val qs = df.stat.approxQuantile(c, (1 until Bins).map(_.toDouble / Bins)
      .toArray, 0.0).map(_.toLong)
    val mm = df.agg(min(col(c)), max(col(c))).head()
    val lo = mm.get(0).asInstanceOf[Number].longValue
    val hi = mm.get(1).asInstanceOf[Number].longValue
    (lo +: qs.toSeq :+ (hi + 1)).distinct
  }

  val MixSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("batch", IntegerType),
    StructField("v", LongType)))

  /** Rows `[first, first + n)` of write_mix batch `batch`, one file. */
  def mixBatch(spark: SparkSession, batch: Int, first: Long,
      n: Long): DataFrame =
    spark.range(first, first + n, 1, 1).select(col("id"),
      lit(batch).as("batch"), (col("id") * 7 % 1000).as("v"))

  /** The write_mix seed table: [[MixSeedBatches]] single-file batches,
    * a classic checkpoint before the last, and a content tree at the
    * head for the maintenance op to update.
    */
  private def buildMix(spark: SparkSession, d: File): Map[String, String] = {
    val t = DeltaTable.create(spark, table(d), MixSchema,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val files = (0 until MixSeedBatches).map { b =>
      if (b == MixSeedBatches - 1) t.checkpoint()
      val v = t.append(mixBatch(spark, b, b.toLong * MixBatchRows, MixBatchRows))
      b -> CommitLog.addedFiles(table(d), v).mkString(",")
    }
    val snap = t.snapshot()
    val root = ContentTree.writeRoot(snap)
    Map("rows" -> (MixSeedBatches.toLong * MixBatchRows).toString,
      "batches" -> MixSeedBatches.toString,
      "table.version" -> snap.version.toString) ++
      rootProps(root) ++ files.map { case (b, f) => s"batch.$b.file" -> f }
  }

  def rootProps(r: AdaptiveMetadata.ContentRoot): Map[String, String] =
    Map("root.path" -> r.path, "root.size" -> r.sizeInBytes.toString,
      "root.version" -> r.version.toString)

  def root(props: Map[String, String]): AdaptiveMetadata.ContentRoot =
    AdaptiveMetadata.ContentRoot(props("root.path"), props("root.size").toLong,
      props("root.version").toLong)

  // ---- small file helpers (the benchmark's own scratch hygiene) ----

  def writeProps(f: File, m: Map[String, String]): Unit = {
    val p = new java.util.Properties()
    m.foreach { case (k, v) => p.setProperty(k, v) }
    val out = Files.newOutputStream(f.toPath)
    try p.store(out, null) finally out.close()
  }

  def deleteTree(f: File): Unit = if (f.exists()) {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(c =>
        copyTree(c, new File(to, c.getName))))
    } else Files.copy(from.toPath, to.toPath,
      StandardCopyOption.REPLACE_EXISTING)
}
