package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CDF end-to-end (reference kernel/src/table_changes/): cdc-file
  * commits, add/remove classification, DV pair resolution, net changes.
  */
class TableChangesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cdfConf = Map(TableChanges.CDF_ENABLED_KEY -> "true")

  private def li = spark.read
    .parquet("/root/testdata/sf0.001/lineitem.parquet")
    .select($"l_orderkey", $"l_linenumber", $"l_quantity")

  private def keyed(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq

  test("insert commits + cdc delete commit") {
    val dir = TestSpark.tmpDir("cdf")
    val src = li.filter($"l_quantity" < 10)
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 4))  // v1
    t.append(src.filter($"l_quantity" >= 4)) // v2
    t.deleteWhere("l_quantity < 2")          // v3, cdc files

    val cdf = TableChanges.read(spark, dir, 1, Some(3))
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity",
      "_change_type", "_commit_version")

    val expected =
      src.filter($"l_quantity" < 4)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(1L))
      .unionByName(src.filter($"l_quantity" >= 4)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(2L)))
      .unionByName(src.filter($"l_quantity" < 2)
        .withColumn("_change_type", lit("delete"))
        .withColumn("_commit_version", lit(3L)))
    assert(keyed(cdf, cols: _*) == keyed(expected, cols: _*))
    // timestamps are non-null and constant per commit
    assert(cdf.filter(col("_commit_timestamp").isNull).count() == 0)
    assert(cdf.select("_commit_version", "_commit_timestamp")
      .distinct().count() == 3)
  }

  test("DV delete commit resolves via add/remove pair diff") {
    val dir = TestSpark.tmpDir("cdf-dv")
    val src = li.filter($"l_quantity" < 6)
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)                 // v1
    t.deleteWhereDV("l_quantity < 2") // v2: DV swap, no cdc files
    t.deleteWhereDV("l_quantity < 3") // v3: bitmap grows — diff only

    val cdf2 = TableChanges.read(spark, dir, 2, Some(2))
    assert(cdf2.select("_change_type").distinct().as[String]
      .collect().toSeq == Seq("delete"))
    assert(keyed(cdf2, "l_orderkey", "l_linenumber") ==
      keyed(src.filter($"l_quantity" < 2), "l_orderkey", "l_linenumber"))

    // v3 must contain ONLY the newly deleted rows (2 <= q < 3)
    val cdf3 = TableChanges.read(spark, dir, 3, Some(3))
    assert(keyed(cdf3, "l_orderkey", "l_linenumber") ==
      keyed(src.filter($"l_quantity" >= 2 && $"l_quantity" < 3),
        "l_orderkey", "l_linenumber"))
  }

  test("net changes collapse insert+delete within range") {
    val dir = TestSpark.tmpDir("cdf-net")
    // (l_orderkey, l_linenumber) is not unique in the synthetic corpus —
    // net changes need a real key, so deduplicate deterministically
    val src = li.filter($"l_quantity" < 10)
      .groupBy($"l_orderkey", $"l_linenumber")
      .agg(min($"l_quantity").as("l_quantity"))
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"l_quantity" < 4))  // v1 (outside range)
    t.append(src.filter($"l_quantity" >= 4)) // v2
    t.deleteWhere("l_quantity < 2")          // v3

    val net = TableChanges.netChanges(
      TableChanges.read(spark, dir, 2, Some(3)),
      Seq("l_orderkey", "l_linenumber"))
    // q<2: deleted (inserted before range) -> net delete
    // q>=4: inserted in range -> net insert; 2<=q<4: untouched -> absent
    val expected =
      src.filter($"l_quantity" < 2)
        .withColumn("_change_type", lit("delete"))
      .unionByName(src.filter($"l_quantity" >= 4)
        .withColumn("_change_type", lit("insert")))
    val cols = Seq("l_orderkey", "l_linenumber", "_change_type")
    assert(keyed(net, cols: _*) == keyed(expected, cols: _*))

    // full range [1,3]: the q<2 keys net to NOTHING (insert then delete)
    val netFull = TableChanges.netChanges(
      TableChanges.read(spark, dir, 1, Some(3)),
      Seq("l_orderkey", "l_linenumber"))
    assert(netFull.filter(col("_change_type") === "delete").count() == 0)
    assert(netFull.count() ==
      src.filter($"l_quantity" >= 2).count())
  }

  test("updateWhere: rewrite applies assignments; CDF carries pre/post " +
      "images; net changes keep the post-image") {
    val dir = TestSpark.tmpDir("upd")
    val src = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0),
      (4L, "d", 40.0)).toDF("k", "s", "v")
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(2)) // v1
    val v = t.updateWhere("k <= 2", Map("v" -> "v * 10", "s" -> "'up'"))
    assert(v == 2L)

    // final state
    assert(t.toDF.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "up", 100.0), (2L, "up", 200.0),
        (3L, "c", 30.0), (4L, "d", 40.0)))
    // untouched rows in untouched FILES are not rewritten? (file-
    // granular: both files matched here; just assert counts)
    assert(t.toDF.count() == 4)

    // CDF of the update commit: pre/post image pairs
    val cdf = TableChanges.read(spark, dir, 2, Some(2))
      .select($"k", $"v", $"_change_type")
      .as[(Long, Double, String)].collect().sorted.toSeq
    assert(cdf == Seq(
      (1L, 10.0, "update_preimage"), (1L, 100.0, "update_postimage"),
      (2L, 20.0, "update_preimage"), (2L, 200.0, "update_postimage")))

    // net changes over [1,2]: updated keys surface the POST-image
    val net = TableChanges.netChanges(
      TableChanges.read(spark, dir, 1, Some(2)), Seq("k"))
      .select($"k", $"v", $"_change_type")
      .as[(Long, Double, String)].collect().sorted.toSeq
    assert(net == Seq((1L, 100.0, "update_postimage"),
      (2L, 200.0, "update_postimage"),
      (3L, 30.0, "insert"), (4L, 40.0, "insert")))
  }

  test("CDF range spans a compatible add-column commit, NULL pre-change") {
    val dir = TestSpark.tmpDir("cdf-evolve")
    val src1 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    DeltaTable.create(spark, dir, src1.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src1)                                        // v1
    t.addColumn("extra", org.apache.spark.sql.types.LongType) // v2
    val src2 = Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "s", "extra")
    t.append(src2)                                        // v3
    val cdf = TableChanges.read(spark, dir, 1, Some(3))
    assert(cdf.count() == 4)
    assert(cdf.columns.contains("extra"))
    // pre-change rows read NULL for the added column; post-change rows
    // carry their values
    assert(cdf.filter($"_commit_version" === 1)
      .filter($"extra".isNotNull).count() == 0)
    assert(cdf.filter($"_commit_version" === 3)
      .filter($"extra".isNull).count() == 0)
    assert(cdf.filter($"_commit_version" === 3)
      .select("extra").as[Long].collect().toSet == Set(30L, 40L))
    // an INCOMPATIBLE change still fails the range: drop 'extra' again
    // via a raw metaData commit (our ALTER refuses drops) — the v2/v3
    // in-range schemas then don't read under the new end schema
    val dropped = org.apache.spark.sql.types.StructType(
      t.snapshot().schema.fields.filterNot(_.name == "extra"))
    t.commit(Some(t.snapshot(Some(3L))), "ALTER TABLE",
      metadata = Some(t.snapshot().metadata.copy(
        schemaString = dropped.json)))
    val ex = intercept[IllegalArgumentException] {
      TableChanges.read(spark, dir, 1, Some(4))
    }
    assert(ex.getMessage.contains("incompatible schema change"))
  }

  test("net changes break same-commit update pre/post ties " +
      "deterministically") {
    import java.sql.Timestamp
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    // key 1: updated at v2 — the post-image must win regardless of input
    // order; key 2: insert@1, update@2 (pre+post), delete@3 — the first
    // change must read as the insert, so the key nets to nothing
    val cdf = Seq(
      (1L, "old", "update_preimage", 2L),
      (1L, "new", "update_postimage", 2L),
      (1L, "init", "insert", 1L),
      (2L, "x0", "insert", 1L),
      (2L, "x1", "update_postimage", 2L),
      (2L, "x0", "update_preimage", 2L),
      (2L, "x1", "delete", 3L))
      .toDF("k", "v", TableChanges.CHANGE_TYPE, TableChanges.COMMIT_VERSION)
      .withColumn(TableChanges.COMMIT_TIMESTAMP, lit(ts))
    val net = TableChanges.netChanges(cdf, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("v"), r.getAs[String](TableChanges.CHANGE_TYPE)))
      .toMap
    assert(net(1L) == (("new", "update_postimage")))
    assert(!net.contains(2L))
  }

  test("predicate pushdown prunes insert files but never delete/cdc " +
      "rows; matching rows identical to the unpruned read") {
    val dir = TestSpark.tmpDir("cdf-pred")
    val src = Seq((1L, "a", 1.0), (2L, "a", 2.0),
      (3L, "b", 3.0), (4L, "b", 4.0)).toDF("k", "p", "v")
    DeltaTable.create(spark, dir, src.schema, partitionColumns = Seq("p"),
      configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.filter($"p" === "a")) // v1: files only in p=a
    t.append(src.filter($"p" === "b")) // v2: files only in p=b
    t.deleteWhere("k = 3")             // v3: cdc rows in p=b

    val pruned = TableChanges.read(spark, dir, 1, Some(3),
      predicateSql = Some("p = 'a'"))
    val full = TableChanges.read(spark, dir, 1, Some(3))

    // matching rows identical (pushdown is conservative, never lossy)
    assert(keyed(pruned.filter($"p" === "a"),
        "k", "p", "_change_type", "_commit_version") ==
      keyed(full.filter($"p" === "a"),
        "k", "p", "_change_type", "_commit_version"))
    // v2's p=b insert FILES were pruned away entirely
    assert(pruned.filter($"_change_type" === "insert" && $"p" === "b")
      .count() == 0)
    assert(full.filter($"_change_type" === "insert" && $"p" === "b")
      .count() == 2)
    // the delete's cdc rows still flow even though they live in p=b
    assert(keyed(pruned.filter($"_change_type" === "delete"), "k", "p") ==
      Seq(org.apache.spark.sql.Row(3L, "b")))
  }

  test("an in-range protocol upgrade to an unsupported reader feature " +
      "fails the CDF read even when a later commit reverts it") {
    val dir = TestSpark.tmpDir("cdf-proto")
    val src = li.filter($"l_quantity" < 3)
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))
    val base = t.snapshot().protocol
    def protoLine(features: Seq[String]): String = {
      val rf = (base.readerFeatures.getOrElse(Nil) ++ features)
        .distinct.map(f => "\"" + f + "\"").mkString(",")
      val wf = (base.writerFeatures.getOrElse(Nil) ++ features)
        .distinct.map(f => "\"" + f + "\"").mkString(",")
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[$rf],"writerFeatures":[$wf]}}"""
    }
    // v2: upgrade to a feature this engine does not implement
    Storage.put(fs, FileNames.commitFile(logDir, 2L),
      protoLine(Seq("someFutureUnimplementedFeature")) + "\n")
    // v3: revert — the END snapshot gates clean
    Storage.put(fs, FileNames.commitFile(logDir, 3L),
      protoLine(Nil) + "\n")
    assert(t.snapshot().version == 3L) // end-of-range snapshot builds

    val e = intercept[Exception] {
      TableChanges.read(spark, dir, 1, Some(3)).collect()
    }
    assert(e.getMessage.contains("unsupported reader feature"),
      e.getMessage)
    // the sub-range before the blip still reads
    assert(TableChanges.read(spark, dir, 1, Some(1)).count() ==
      src.count())
  }

  test("an in-range physicalName flip on a surviving column fails the " +
      "CDF read (files from the blip would resolve to NULLs)") {
    val dir = TestSpark.tmpDir("cdf-phys")
    val src = li.filter($"l_quantity" < 3)
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf ++
      Map("delta.columnMapping.mode" -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))
    // v2: metaData whose l_quantity points at a DIFFERENT physical
    // column; v3 restores the original mapping so the end snapshot
    // gates clean — only the in-range check can catch the blip
    val origMeta = t.snapshot().metadata
    def metaLine(m: Metadata): String =
      JsonLog.writeAction(SingleAction(metaData = Some(m)))
    val flipped = origMeta.copy(schemaString = origMeta.schemaString
      .replaceFirst("(\"name\":\"l_quantity\".*?columnMapping.physicalName\":\")([^\"]+)",
        "$1col-flipped"))
    assert(flipped.schemaString != origMeta.schemaString,
      "fixture: the physicalName replace must hit")
    Storage.put(fs, FileNames.commitFile(logDir, 2L),
      metaLine(flipped) + "\n")
    Storage.put(fs, FileNames.commitFile(logDir, 3L),
      metaLine(origMeta) + "\n")
    assert(t.snapshot().version == 3L)

    val e = intercept[Exception] {
      TableChanges.read(spark, dir, 1, Some(3)).collect()
    }
    assert(e.getMessage.contains("physical name"), e.getMessage)
    assert(TableChanges.read(spark, dir, 1, Some(1)).count() ==
      src.count())
  }

  test("CDF disabled table rejects the read") {
    val dir = TestSpark.tmpDir("cdf-off")
    val src = li.limit(10)
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    intercept[IllegalArgumentException] {
      TableChanges.read(spark, dir, 0, None)
    }
  }

  test("CDF on a column-mapped partitioned table") {
    val dir = TestSpark.tmpDir("cdf-cm")
    val src = (1 to 40).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("k", "s", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"),
      cdfConf + (ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)                 // v1
    t.deleteWhere("k <= 10")      // v2: cdc files with physical names

    val cdf = TableChanges.read(spark, dir, 1, Some(2))
    assert(cdf.schema.fieldNames.take(3).toSeq == Seq("k", "s", "p"))
    val deletes = cdf.filter(col("_change_type") === "delete")
    assert(deletes.count() == 10)
    assert(deletes.select("k").as[Long].collect().sorted.toSeq ==
      (1L to 10L))
    // partition values flow through the cdc read
    assert(deletes.filter(col("p").isNull).count() == 0)
    assert(cdf.filter(col("_change_type") === "insert").count() == 40)
  }

  test("CDF range crossing a RENAME/DROP COLUMN refuses loudly " +
      "(non-additive schema change), sub-ranges on each side work") {
    val dir = TestSpark.tmpDir("cdf-rename")
    val src = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "s", "x")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map("delta.enableChangeDataFeed" -> "true",
        "delta.columnMapping.mode" -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src) // v1
    t.renameColumn(Seq("s"), "label") // v2
    t.append(Seq((3L, "c", 3.0)).toDF("k", "label", "x")) // v3
    val e = intercept[IllegalArgumentException](
      TableChanges.read(spark, dir, 0, Some(3)).collect())
    assert(e.getMessage.contains("incompatible schema change"),
      e.getMessage)
    // each side of the rename reads fine, under its own schema
    assert(TableChanges.read(spark, dir, 0, Some(1))
      .filter(col("_change_type") === "insert").count() == 2)
    assert(TableChanges.read(spark, dir, 3, Some(3))
      .filter(col("_change_type") === "insert").count() == 1)
    // drop is equally non-additive across the range
    t.dropColumn(Seq("x")) // v4
    val e2 = intercept[IllegalArgumentException](
      TableChanges.read(spark, dir, 3, Some(4)).collect())
    assert(e2.getMessage.contains("incompatible schema change"),
      e2.getMessage)
  }

  test("CDF range plan is commit-count INDEPENDENT: one scan arm per " +
      "change class, commit version/timestamp served as per-file " +
      "constants") {
    val dir = TestSpark.tmpDir("cdf-arms")
    val src = (1 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    // 12 insert commits + 2 cdc delete commits
    (0 until 12).foreach { i =>
      t.append(src.filter($"k" > i * 5L && $"k" <= (i + 1) * 5L)
        .coalesce(1))
    }
    t.deleteWhere("k = 1")  // v13, cdc
    t.deleteWhere("k = 2")  // v14, cdc

    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      "Scan parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    // both ranges hold the same change CLASSES (insert + cdc); the
    // wide one spans 3.5x the commits — the plan must not grow
    val narrow = TableChanges.read(spark, dir, 11, Some(14))
    val wide = TableChanges.read(spark, dir, 1, Some(14))
    assert(scanCount(narrow) == scanCount(wide),
      s"narrow=${scanCount(narrow)} wide=${scanCount(wide)}")
    assert(scanCount(wide) <= 3, wide.queryExecution.executedPlan
      .toString.take(1500))

    // the collapsed arms still stamp the RIGHT per-commit constants
    val byV = wide.filter($"_change_type" === "insert")
      .groupBy("_commit_version").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byV == (1L to 12L).map(_ -> 5L).toMap, byV)
    // timestamps constant per commit, distinct across commits
    assert(wide.select("_commit_version", "_commit_timestamp")
      .distinct().count() == 14)
    // cdc rows flow with their own versions
    assert(wide.filter($"_change_type" === "delete")
      .select("k", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 13L), (2L, 14L)))
  }

  test("a DV swap on the SAME file in two in-range commits resolves " +
      "each commit's own diff (version-keyed masks in the shared arm)") {
    val dir = TestSpark.tmpDir("cdf-dv2")
    val src = (1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema, configuration = cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.coalesce(1))     // v1: ONE file
    t.deleteWhereDV("k <= 3")     // v2: DV swap on that file
    t.deleteWhereDV("k >= 18")    // v3: second swap, SAME file

    val cdf = TableChanges.read(spark, dir, 2, Some(3))
    val got = cdf.select("k", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got == ((1L to 3L).map(k => (k, "delete", 2L)) ++
      (18L to 20L).map(k => (k, "delete", 3L))).toSet, got)
  }

  test("one commit-JSON parse per commit per read — prune and emission " +
      "share the single pass (pinned via CdfCommitParsed metrics)") {
    val dir = TestSpark.tmpDir("cdf-1parse")
    val src = (1 to 30).map(i => (i.toLong, s"p${i % 3}")).toDF("k", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"), cdfConf)
    val t = DeltaTable.forPath(spark, dir)
    (0 until 5).foreach(i =>
      t.append(src.filter($"k" % 5 === i.toLong)))
    t.deleteWhere("k = 7")

    val rep = new InMemoryReporter
    val prev = Metrics.reporter
    Metrics.reporter = rep
    try {
      // predicate path: round 9 parsed every commit TWICE here
      TableChanges.read(spark, dir, 1, Some(6), Some("p = 'p1'")).collect()
      val parses = rep.events.collect {
        case MetricEvent.CdfCommitParsed(_, _, v) => v }
      assert(parses.sorted == (1L to 6L), parses)
    } finally Metrics.reporter = prev
  }

  test("an in-range physicalName flip on a struct field NESTED INSIDE " +
      "AN ARRAY fails the CDF read (guard recurses through containers)") {
    val dir = TestSpark.tmpDir("cdf-phys-arr")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("arr",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("x",
              org.apache.spark.sql.types.LongType)))))))
    DeltaTable.create(spark, dir, schema, configuration = cdfConf ++
      Map("delta.columnMapping.mode" -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    val rows = spark.range(1, 4)
      .selectExpr("id as k", "array(named_struct('x', id * 10)) as arr")
    t.append(rows) // v1

    val fs = Storage.fs(new org.apache.hadoop.fs.Path(dir),
      spark.sessionState.newHadoopConf())
    val logDir = FileNames.logDir(new org.apache.hadoop.fs.Path(dir))
    val origMeta = t.snapshot().metadata
    // flip the physicalName of arr.element.x — NOT a top-level field
    val annotated = t.snapshot().schema
    val arrF = annotated.fields.find(_.name == "arr").get
    val elemStruct = arrF.dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val xF = elemStruct.fields.head
    val flippedX = xF.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(xF.metadata)
        .putString("delta.columnMapping.physicalName", "col-flipped")
        .build())
    val flippedSchema = org.apache.spark.sql.types.StructType(
      annotated.fields.map { f =>
        if (f.name != "arr") f
        else f.copy(dataType = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StructType(Array(flippedX)),
          arrF.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
            .containsNull))
      })
    val flipped = origMeta.copy(schemaString = flippedSchema.json)
    def metaLine(m: Metadata): String =
      JsonLog.writeAction(SingleAction(metaData = Some(m)))
    Storage.put(fs, FileNames.commitFile(logDir, 2L),
      metaLine(flipped) + "\n")
    Storage.put(fs, FileNames.commitFile(logDir, 3L),
      metaLine(origMeta) + "\n")
    assert(t.snapshot().version == 3L)

    val e = intercept[Exception] {
      TableChanges.read(spark, dir, 1, Some(3)).collect()
    }
    assert(e.getMessage.contains("physical name"), e.getMessage)
    assert(TableChanges.read(spark, dir, 1, Some(1)).count() == 3)
  }
}
