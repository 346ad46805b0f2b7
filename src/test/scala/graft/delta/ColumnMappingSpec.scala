package graft.delta

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Column mapping (reference kernel/src/table_features/column_mapping.rs,
  * scan/transform_spec.rs) and URI-encoded-path join correctness.
  */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sortedCollect(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("name-mode roundtrip: physical parquet names, logical read") {
    val dir = TestSpark.tmpDir("cm-name")
    val src = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("id", "tag", "score")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)

    // physical parquet columns must be col-<uuid>, not logical names
    val files = t.scan(None).collectAddFiles()
    val phys = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, files.head.path).toString)
    assert(phys.schema.fieldNames.forall(_.startsWith("col-")))

    // logical read returns logical names + exact data
    val got = t.toDF
    assert(got.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    assert(sortedCollect(got) == sortedCollect(src))
  }

  test("name-mode partitioned table: pv keys physical, pruning works") {
    val dir = TestSpark.tmpDir("cm-part")
    val src = Seq((1L, "x", "p1"), (2L, "y", "p2"), (3L, "z", "p1"))
      .toDF("id", "v", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"),
      Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val adds = t.scan(None).collectAddFiles()
    assert(adds.forall(_.partitionValues.keys.forall(_.startsWith("col-"))))
    val scan = t.scan(Some("p = 'p1'"))
    assert(scan.collectAddFiles().size < adds.size) // pruned
    assert(scan.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
    // stats skipping against physical stats keys
    val s2 = t.scan(Some("id > 100"))
    assert(s2.toDF.count() == 0)
  }

  test("id-mode roundtrip reads by parquet field id") {
    val dir = TestSpark.tmpDir("cm-id")
    val src = Seq((10L, "aa"), (20L, "bb")).toDF("k", "s")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "id"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    assert(sortedCollect(t.toDF) == sortedCollect(src))
  }

  test("id-mode is per-relation: session conf untouched, concurrent " +
      "plain scan unaffected") {
    val key = "spark.sql.parquet.fieldId.read.enabled"
    spark.conf.unset(key)
    val src = Seq((10L, "aa"), (20L, "bb")).toDF("k", "s")

    val idDir = TestSpark.tmpDir("cm-id2")
    DeltaTable.create(spark, idDir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "id"))
    val idT = DeltaTable.forPath(spark, idDir)
    idT.append(src)

    val plainDir = TestSpark.tmpDir("cm-plain")
    DeltaTable.create(spark, plainDir, src.schema)
    val plainT = DeltaTable.forPath(spark, plainDir)
    plainT.append(src)

    // interleave the two scans: both correct, and the id-mode read must
    // not have flipped the session conf for the plain one
    val a = idT.toDF
    val b = plainT.toDF
    assert(sortedCollect(a) == sortedCollect(src))
    assert(sortedCollect(b) == sortedCollect(src))
    assert(sortedCollect(idT.toDF.filter($"k" > 10)) ==
      sortedCollect(src.filter($"k" > 10)))
    // getOption surfaces the registered default ("false") — the scan
    // must not have flipped it to "true" session-wide
    assert(!spark.conf.getOption(key).contains("true"),
      "scan must not mutate session configuration")
  }

  test("unsupported reader feature / mode fails loudly, not NULLs") {
    val dir = TestSpark.tmpDir("cm-bad")
    val src = Seq((1L, "a")).toDF("id", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // hand-craft a protocol claiming an unimplemented reader feature
    t.commit(Some(t.snapshot()), "UPGRADE PROTOCOL", protocol = Some(
      Protocol(3, 7, Some(Seq("someFutureFeature")),
        Some(Seq("someFutureFeature")))))
    intercept[IllegalArgumentException] {
      Snapshot.forTable(spark, dir)
    }
  }

  test("timestampWithoutTimezone reads and writes as a timestampNtz " +
      "alias (reference table_features/mod.rs:148-156)") {
    val dir = TestSpark.tmpDir("ntz-alias")
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    // some existing tables carry the non-protocol alias in their
    // feature arrays; both reads and writes must accept it
    t.commit(Some(t.snapshot()), "UPGRADE PROTOCOL", protocol = Some(
      Protocol(3, 7, Some(Seq("timestampWithoutTimezone")),
        Some(Seq("timestampWithoutTimezone")))))
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.toDF.count() == 2)
    t2.append(Seq((3L, "c")).toDF("id", "s"))
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 3)
  }

  test("URI-encodable chars in partition values join correctly") {
    // space -> %20 and ':' -> Hive %3A in dir names; both previously
    // broke the file_path join silently (ADVICE r1, high)
    val dir = TestSpark.tmpDir("enc")
    val src = Seq((1L, "with space"), (2L, "with:colon"), (3L, "plus+v"),
      (4L, "pct%20v")).toDF("id", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val got = t.toDF
    assert(got.count() == 4)
    assert(got.select("p").as[String].collect().sorted.toSeq ==
      Seq("pct%20v", "plus+v", "with space", "with:colon"))
    // predicate read on the spaced value
    assert(t.scan(Some("p = 'with space'")).toDF
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("protocol upgrade preserves legacy-implied features") {
    val up = TableFeatures.upgraded(Protocol(1, 2),
      Seq("deletionVectors"), Seq("deletionVectors"))
    assert(up.minReaderVersion == 3 && up.minWriterVersion == 7)
    assert(up.writerFeatures.get.toSet ==
      Set("appendOnly", "invariants", "deletionVectors"))
    assert(up.readerFeatures.get.toSet == Set("deletionVectors"))
    val up2 = TableFeatures.upgraded(Protocol(2, 5),
      Seq("deletionVectors"), Seq("deletionVectors"))
    assert(up2.readerFeatures.get.contains("columnMapping"))
    assert(up2.writerFeatures.get.contains("columnMapping"))
  }

  test("RENAME COLUMN: metadata-only, old parquet + stats keep serving") {
    val dir = TestSpark.tmpDir("cm-rename")
    val src = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "tag", "score")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val nFiles = t.scan(None).collectAddFiles().size
    t.renameColumn(Seq("tag"), "label")
    assert(t.toDF.schema.fieldNames.toSeq == Seq("id", "label", "score"))
    assert(t.toDF.where("label = 'b'").select("id")
      .as[Long].collect().toSeq == Seq(2L))
    // metadata-only: no data files were rewritten
    assert(t.scan(None).collectAddFiles().size == nFiles)
    // stats (keyed by physical name) still skip on the renamed column
    assert(t.scan(Some("id > 100")).collectAddFiles().isEmpty)
    // append under the new logical name round-trips
    t.append(Seq((3L, "c", 3.5)).toDF("id", "label", "score"))
    assert(t.toDF.where("label = 'c'").count() == 1)
  }

  test("RENAME partition column: partitionColumns updates, pruning holds") {
    val dir = TestSpark.tmpDir("cm-renamepart")
    val src = Seq((1L, "p1"), (2L, "p2"), (3L, "p1")).toDF("id", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"),
      Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.renameColumn(Seq("p"), "bucket")
    val snap = t.snapshot()
    assert(snap.partitionColumns == Seq("bucket"))
    val scan = t.scan(Some("bucket = 'p1'"))
    assert(scan.collectAddFiles().size <
      t.scan(None).collectAddFiles().size)
    assert(scan.toDF.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("DROP COLUMN then re-ADD same name: fresh physical, old data " +
      "does not resurface") {
    val dir = TestSpark.tmpDir("cm-drop")
    val src = Seq((1L, "secret1", 10), (2L, "secret2", 20))
      .toDF("id", "s", "n")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.dropColumn(Seq("s"))
    assert(t.toDF.schema.fieldNames.toSeq == Seq("id", "n"))
    t.addColumn("s", org.apache.spark.sql.types.StringType)
    // old rows must read NULL — NOT the dropped physical data
    assert(t.toDF.where("s IS NOT NULL").count() == 0)
    t.append(Seq((3L, 30, "fresh")).toDF("id", "n", "s"))
    assert(t.toDF.where("s = 'fresh'").select("id")
      .as[Long].collect().toSeq == Seq(3L))
    // time travel still shows the pre-drop schema + data
    val old = t.snapshot(Some(1)).toDF
    assert(old.schema.fieldNames.contains("s"))
    assert(old.where("s = 'secret1'").count() == 1)
  }

  test("nested rename + drop inside a struct") {
    val dir = TestSpark.tmpDir("cm-nested-rd")
    val src = spark.sql(
      """SELECT CAST(1 AS BIGINT) AS k,
        |named_struct('a', 'x', 'b', 10) AS st""".stripMargin)
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.renameColumn(Seq("st", "a"), "alpha")
    assert(t.toDF.select("st.alpha").as[String].collect().toSeq ==
      Seq("x"))
    t.dropColumn(Seq("st", "b"))
    val stT = t.snapshot().schema("st").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(stT.fieldNames.toSeq == Seq("alpha"))
    assert(t.toDF.select("st.alpha").as[String].collect().toSeq ==
      Seq("x"))
  }

  test("rename/drop guards: no column mapping, duplicate name, " +
      "partition drop, constraint reference, last struct field") {
    val plainDir = TestSpark.tmpDir("rd-plain")
    val src = Seq((1L, "a", "p1")).toDF("id", "s", "p")
    DeltaTable.create(spark, plainDir, src.schema)
    val plain = DeltaTable.forPath(spark, plainDir)
    plain.append(src)
    intercept[IllegalArgumentException](plain.renameColumn(Seq("s"), "x"))
    intercept[IllegalArgumentException](plain.dropColumn(Seq("s")))

    val dir = TestSpark.tmpDir("rd-guards")
    DeltaTable.create(spark, dir, src.schema, Seq("p"),
      Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    intercept[IllegalArgumentException](t.renameColumn(Seq("s"), "ID"))
    intercept[IllegalArgumentException](t.dropColumn(Seq("p")))
    t.setProperties(Map("delta.constraints.spos" -> "id > 0"))
    intercept[IllegalArgumentException](t.dropColumn(Seq("id")))
    intercept[IllegalArgumentException](t.renameColumn(Seq("id"), "id2"))

    val oneDir = TestSpark.tmpDir("rd-one")
    val one = Seq(Tuple1(1L)).toDF("only")
    DeltaTable.create(spark, oneDir, one.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val ot = DeltaTable.forPath(spark, oneDir)
    ot.append(one)
    intercept[IllegalArgumentException](ot.dropColumn(Seq("only")))
  }

  test("rename updates dataSkippingStatsColumns; drop removes the entry") {
    val dir = TestSpark.tmpDir("rd-statscols")
    val src = Seq((1L, "a", 1.5)).toDF("id", "s", "x")
    DeltaTable.create(spark, dir, src.schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name",
        ParquetFooterStats.STATS_COLUMNS_KEY -> "id,x"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    t.renameColumn(Seq("x"), "score")
    assert(t.snapshot().metadata.configuration(
      ParquetFooterStats.STATS_COLUMNS_KEY) == "id,score")
    t.dropColumn(Seq("score"))
    assert(t.snapshot().metadata.configuration(
      ParquetFooterStats.STATS_COLUMNS_KEY) == "id")
  }

  test("toPhysicalDF skips the row transform (#2756): physical column " +
      "names, identical values, DV mask and predicate still applied") {
    val dir = TestSpark.tmpDir("cm-phys")
    val src = (1 to 6000).map(i => (i.toLong, s"t$i", s"p${i % 2}"))
      .toDF("id", "tag", "p")
    DeltaTable.create(spark, dir, src.schema, Seq("p"),
      Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src.repartition(2))
    t.deleteWhereDV("id % 2 = 0") // persisted DVs mask half the rows

    val snap = t.snapshot()
    val physNames = snap.schema.fields
      .map(f => f.name -> ColumnMapping.physicalName(f)).toMap
    val phys = t.scan(None).toPhysicalDF
    // every surfaced column is a PHYSICAL name, logical ones absent
    assert(phys.schema.fieldNames.toSet == physNames.values.toSet)
    // same rows as the logical read, modulo the rename
    val logical = t.toDF
      .select(col("id").as(physNames("id")),
        col("tag").as(physNames("tag")), col("p").as(physNames("p")))
    assert(phys.orderBy(col(s"`${physNames("id")}`")).collect().toSeq ==
      logical.orderBy(col(s"`${physNames("id")}`")).collect().toSeq)
    assert(phys.count() == 3000) // DV mask applied

    // the residual predicate (logical names) is rewritten physical
    val pred = t.scan(Some("id % 3 = 0 and p = 'p1'")).toPhysicalDF
    assert(pred.count() ==
      t.toDF.filter("id % 3 = 0 and p = 'p1'").count())
  }

  test("filesWithParsedPartitionValues serves a TYPED partition tuple " +
      "(#2755) under logical names") {
    val dir = TestSpark.tmpDir("cm-pvp")
    val src = Seq((1L, "x", 10), (2L, "y", 20), (3L, "z", 10))
      .toDF("id", "v", "b")
    DeltaTable.create(spark, dir, src.schema, Seq("b"),
      Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val rows = t.scan(None).filesWithParsedPartitionValues
      .select(col("partitionValues_parsed.b").as("b"))
      .collect().map(_.getInt(0)).toSet
    assert(rows == Set(10, 20)) // typed INT, not strings
  }

  test("stale CM annotations with mapping disabled are ignored: fields " +
      "resolve by logical name, CREATE never originates them (#2886)") {
    import org.apache.spark.sql.types._
    val dir = TestSpark.tmpDir("cm-stale")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
    DeltaTable.create(spark, dir, src.schema)
    val t = DeltaTable.forPath(spark, dir)
    t.append(src)
    val snap = t.snapshot()
    // a foreign writer leaves residual annotations while mode stays
    // none (e.g. a clone from a mapped table) — files have LOGICAL
    // parquet names, so resolving the stale physical name would read
    // silent NULLs
    def annotate(f: StructField, i: Long) = f.copy(metadata =
      new MetadataBuilder().withMetadata(f.metadata)
        .putString(ColumnMapping.PHYS_NAME_KEY, s"col-stale-$i")
        .putLong(ColumnMapping.ID_KEY, i).build())
    val stale = StructType(src.schema.fields.zipWithIndex.map {
      case (f, i) => annotate(f, i + 1L) })
    val meta2 = snap.metadata.copy(schemaString = stale.json)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = Storage.fs(root, spark.sessionState.newHadoopConf())
    Storage.put(fs,
      FileNames.commitFile(FileNames.logDir(root), snap.version + 1),
      s"""{"metaData":${JsonLog.writeMetadata(meta2)}}""" + "\n")
    val t2 = DeltaTable.forPath(spark, dir)
    val got = t2.toDF
    assert(got.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(sortedCollect(got) == sortedCollect(src))
    assert(t2.scan(Some("id > 1")).toDF.count() == 2)
    // appends to the downgraded table keep writing LOGICAL names
    t2.append(Seq((4L, "d")).toDF("id", "tag"))
    assert(t2.toDF.count() == 4)
    // CREATE with mode none strips caller-carried annotations — a
    // write never originates a table in the stale shape
    val dir2 = TestSpark.tmpDir("cm-stale2")
    DeltaTable.create(spark, dir2, stale)
    val m = DeltaTable.forPath(spark, dir2).snapshot().metadata
    assert(!m.schemaString.contains(ColumnMapping.PHYS_NAME_KEY))
  }
}
