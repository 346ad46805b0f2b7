package graft.delta

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Identity columns (reference schema/mod.rs identity metadata keys):
  * distributed generation, high-water-mark advancement through table
  * metadata, explicit-insert gating, negative steps.
  */
class IdentityColumnsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def idField(start: Long, step: Long,
      allowExplicit: Boolean = false): StructField = {
    val mb = new MetadataBuilder()
      .putLong(IdentityColumns.START_KEY, start)
      .putLong(IdentityColumns.STEP_KEY, step)
    if (allowExplicit)
      mb.putBoolean(IdentityColumns.ALLOW_EXPLICIT_KEY, true)
    StructField("id", LongType, nullable = true, mb.build())
  }

  private def hwmOf(t: DeltaTable): Option[Long] = {
    val f = t.snapshot().schema("id")
    if (f.metadata.contains(IdentityColumns.HWM_KEY))
      Some(f.metadata.getLong(IdentityColumns.HWM_KEY))
    else None
  }

  test("generated values are unique, congruent, and advance the mark") {
    val dir = TestSpark.tmpDir("idgen")
    val schema = StructType(Seq(idField(100, 10),
      StructField("s", StringType)))
    DeltaTable.create(spark, dir, schema)
    val t = DeltaTable.forPath(spark, dir)

    t.append((1 to 25).map(i => s"v$i").toDF("s").repartition(3))
    val ids1 = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids1.size == 25 && ids1.distinct.size == 25)
    assert(ids1.forall(v => v >= 100 && (v - 100) % 10 == 0))
    assert(hwmOf(t).contains(ids1.max))

    // second append continues strictly beyond the mark
    t.append((1 to 5).map(i => s"w$i").toDF("s"))
    val ids2 = t.toDF.select("id").as[Long].collect().toSeq
    assert(ids2.size == 30 && ids2.distinct.size == 30)
    assert(hwmOf(t).contains(ids2.max))
  }

  test("explicit insert rejected unless allowExplicitInsert") {
    val dir = TestSpark.tmpDir("idnoexp")
    DeltaTable.create(spark, dir, StructType(Seq(idField(1, 1),
      StructField("s", StringType))))
    val t = DeltaTable.forPath(spark, dir)
    intercept[IllegalArgumentException] {
      t.append(Seq((5L, "x")).toDF("id", "s"))
    }

    val dir2 = TestSpark.tmpDir("idexp")
    DeltaTable.create(spark, dir2, StructType(Seq(
      idField(1, 1, allowExplicit = true), StructField("s", StringType))))
    val t2 = DeltaTable.forPath(spark, dir2)
    t2.append(Seq((500L, "x"), (7L, "y")).toDF("id", "s"))
    assert(hwmOf(t2).contains(500L)) // mark covers the furthest value
    // generation resumes beyond the explicit values
    t2.append(Seq("z").toDF("s"))
    val ids = t2.toDF.select("id").as[Long].collect().toSeq
    assert(ids.size == 3 && ids.distinct.size == 3)
    assert(ids.max > 500L)
  }

  test("negative step descends and tracks the minimum") {
    val dir = TestSpark.tmpDir("idneg")
    DeltaTable.create(spark, dir, StructType(Seq(idField(0, -5),
      StructField("s", StringType))))
    val t = DeltaTable.forPath(spark, dir)
    t.append((1 to 4).map(i => s"v$i").toDF("s"))
    val ids = t.toDF.select("id").as[Long].collect().toSeq.sorted
    assert(ids == Seq(-15L, -10L, -5L, 0L))
    assert(hwmOf(t).contains(-15L))
    t.append(Seq("w").toDF("s"))
    assert(t.toDF.select(min("id")).as[Long].head == -20L)
  }

  test("high-water mark advances on column-mapped tables") {
    val dir = TestSpark.tmpDir("id-cm")
    val schema = StructType(Seq(idField(1, 1), StructField("v", StringType)))
    DeltaTable.create(spark, dir, schema,
      configuration = Map(ColumnMapping.MODE_KEY -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    t.append(Seq("a", "b", "c").toDF("v"))
    // stats carry PHYSICAL keys — the mark must still advance
    assert(hwmOf(t).contains(3L))
    t.append(Seq("d", "e").toDF("v"))
    val ids = t.toDF.select("id").as[Long].collect().toSeq.sorted
    assert(ids == (1L to 5L), s"duplicate identity values: $ids")
  }

  test("a declared identityColumns feature no longer blocks writes") {
    val dir = TestSpark.tmpDir("idfeat")
    val schema = StructType(Seq(idField(1, 1), StructField("s", StringType)))
    DeltaTable.create(spark, dir, schema)
    val t = DeltaTable.forPath(spark, dir)
    t.commit(Some(t.snapshot()), "UPGRADE PROTOCOL", protocol = Some(
      TableFeatures.upgraded(t.snapshot().protocol, Nil,
        Seq("identityColumns"))))
    t.append(Seq("a").toDF("s")) // would previously throw in writerGate
    assert(t.toDF.count() == 1)
  }
}
