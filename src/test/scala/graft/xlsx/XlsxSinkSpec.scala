package graft.xlsx

import java.nio.file.Files
import java.sql.Timestamp
import graft.TestSpark
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The distributed xlsx sink: df.write.format("xlsx").save(dir) writes
  * one workbook per non-empty partition, which the directory reader
  * round-trips; SaveMode semantics and type gating included. */
class XlsxSinkSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("xsink").resolve("out").toString

  test("multi-partition write produces one workbook per partition and round-trips") {
    val dir = tmp()
    val df = (1 to 100).map(i => (i.toLong, s"name_$i", i / 2.0)).toDF("id", "name", "score")
      .repartition(3)
    df.write.format("xlsx").save(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    files.length shouldBe 3
    val back = spark.read.format("xlsx").load(dir)
    back.count() shouldBe 100
    // ids come back as doubles (xlsx numeric); content must match exactly
    back.select(sum(col("id").cast("long"))).collect()(0).getLong(0) shouldBe 5050L
    back.filter(col("name") === "name_42").collect()(0).getAs[Double]("score") shouldBe 21.0
  }

  test("SaveMode semantics: overwrite replaces, append adds, errorIfExists throws, ignore skips") {
    val dir = tmp()
    val a = Seq((1.0, "a")).toDF("k", "v")
    val b = Seq((2.0, "b"), (3.0, "c")).toDF("k", "v")
    a.write.format("xlsx").save(dir)
    spark.read.format("xlsx").load(dir).count() shouldBe 1
    an[Exception] should be thrownBy a.write.format("xlsx").save(dir) // default errorIfExists
    b.write.format("xlsx").mode("append").save(dir)
    spark.read.format("xlsx").load(dir).count() shouldBe 3
    b.write.format("xlsx").mode("overwrite").save(dir)
    spark.read.format("xlsx").load(dir).count() shouldBe 2
    a.write.format("xlsx").mode("ignore").save(dir)
    spark.read.format("xlsx").load(dir).count() shouldBe 2 // unchanged
  }

  test("timestamps, booleans and nulls survive the sink round-trip") {
    val dir = tmp()
    val df = Seq(
      (1L, Some(Timestamp.valueOf("2024-03-04 05:06:07")), Some(true)),
      (2L, None: Option[Timestamp], None: Option[Boolean]))
      .toDF("id", "at", "ok")
    df.write.format("xlsx").save(dir)
    val back = spark.read.format("xlsx").load(dir).orderBy("id").collect()
    back(0).getTimestamp(1) shouldBe Timestamp.valueOf("2024-03-04 05:06:07")
    back(0).getBoolean(2) shouldBe true
    back(1).isNullAt(1) shouldBe true
    back(1).isNullAt(2) shouldBe true
  }

  test("empty DataFrame still leaves a schema-bearing workbook") {
    val dir = tmp()
    Seq.empty[(Double, String)].toDF("k", "v").write.format("xlsx").save(dir)
    val back = spark.read.format("xlsx").load(dir)
    back.schema.fieldNames.toSeq shouldBe Seq("k", "v")
    back.count() shouldBe 0
  }

  test("unsupported column types are rejected before any task runs") {
    val dir = tmp()
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "arr")
    an[IllegalArgumentException] should be thrownBy
      df.write.format("xlsx").save(dir)
  }

  test("commit is driver-finalized: deterministic per-partition names, no attempt ids visible") {
    val dir = tmp()
    (1 to 10).map(i => (i.toDouble, s"v$i")).toDF("k", "v")
      .repartition(2).write.format("xlsx").save(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    // final name = part-<partition>-<job>.xlsx — a duplicate (speculative/
    // zombie) attempt of the same partition maps to the SAME final name,
    // so it can never add a second visible file
    all(names) should fullyMatch regex "part-\\d{5}-[0-9a-f]{8}\\.xlsx"
    names.map(_.take(10)).distinct.size shouldBe names.size // one file per partition id
  }

  test("stale .staging litter from a failed job is swept once old; fresh litter survives") {
    val dir = tmp()
    Seq((1.0, "a")).toDF("k", "v").write.format("xlsx").save(dir)
    // simulate a killed job's leftover: a half-written staging file,
    // backdated past the staleness horizon
    val stale = new java.io.File(dir, ".part-00099-deadbeef-a7.xlsx.staging")
    java.nio.file.Files.write(stale.toPath, Array[Byte](1, 2, 3))
    stale.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000) shouldBe true
    // a RECENT leftover could belong to a concurrent writer — must be kept
    val fresh = new java.io.File(dir, ".part-00098-cafebabe-a3.xlsx.staging")
    java.nio.file.Files.write(fresh.toPath, Array[Byte](1))
    Seq((2.0, "b")).toDF("k", "v").write.format("xlsx").mode("append").save(dir)
    stale.exists() shouldBe false
    fresh.exists() shouldBe true
    spark.read.format("xlsx").load(dir).count() shouldBe 2
    fresh.delete()
  }

  test("a completed DUPLICATE task attempt is discarded at commit: one file per partition") {
    // local mode never starts the speculation scheduler, so the spec
    // materializes exactly what a completed speculative attempt leaves:
    // a second byte-identical .staged file for the same partition under
    // a different attempt id, present when the driver commits
    val dir = tmp()
    XlsxSink.onTaskStaged = { staged =>
      val forged = new java.io.File(staged.getParentFile,
        staged.getName.replaceAll("-a\\d+\\.xlsx\\.staged$", "-a999999.xlsx.staged"))
      java.nio.file.Files.copy(staged.toPath, forged.toPath)
    }
    try {
      val df = (1 to 60).map(i => (i.toDouble, s"v$i")).toDF("k", "v").repartition(3)
      // the reported count is per partition id: a duplicate never counts twice
      XlsxSink.write(df, dir, SaveMode.ErrorIfExists, "Sheet1") shouldBe 60L
    } finally XlsxSink.onTaskStaged = _ => ()
    val files = new java.io.File(dir).listFiles()
    // exactly one PUBLISHED workbook per partition; the duplicate
    // attempts' outputs are deleted, and no hidden litter survives
    files.count(_.getName.endsWith(".xlsx")) shouldBe 3
    files.count(f => f.getName.endsWith(".staged") || f.getName.endsWith(".staging")) shouldBe 0
    // and the published content is the full, unduplicated dataset
    val back = spark.read.format("xlsx").load(dir)
    back.count() shouldBe 60
    back.select(sum(col("k").cast("long"))).collect()(0).getLong(0) shouldBe 1830L
  }

  test("custom sheet option names the sheet in every part file") {
    val dir = tmp()
    Seq((1.0, "x")).toDF("k", "v").write.format("xlsx")
      .option("sheet", "mydata").save(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx")).head
    val zip = new java.util.zip.ZipFile(f)
    try XlsxParser.parseWorkbook(zip).sheets.map(_.name) shouldBe Seq("mydata")
    finally zip.close()
  }

  test("write reports the rows it committed") {
    val df = (1 to 100).map(i => (i.toLong, s"n$i")).toDF("id", "name").repartition(3)
    XlsxSink.write(df, tmp(), SaveMode.ErrorIfExists, "s") shouldBe 100L
  }
}
