package graft.etl

import java.nio.file.Files
import graft.TestSpark
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** SaveMode parity of the DuckDB bulk fast path (staged parquet +
  * set-based CTAS/INSERT) with Spark's generic JDBC sink semantics —
  * the contract XlsxToDatabase.load/upsert now rides on — and the batch
  * shape of that path: concurrent staging under the caller's job group,
  * one transaction for the whole batch. */
class DuckDbBulkLoadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark

  private def freshUrl(): String =
    s"jdbc:duckdb:${Files.createTempDirectory("bulk").resolve("t.duckdb")}"

  private def df(n: Int, offset: Int = 0) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong + offset, s"v${i + offset}", i % 2 == 0))
      .toDF("id", "s", "flag")
  }

  private def tableRows(url: String, table: String): Seq[Long] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"""SELECT id FROM "$table" ORDER BY id""")
      val out = scala.collection.mutable.ArrayBuffer[Long]()
      while (rs.next()) out += rs.getLong(1)
      out.toSeq
    } finally c.close()
  }

  test("overwrite replaces; returned count is rows loaded") {
    val url = freshUrl()
    DuckDbBulkLoad.write(df(3), url, "t", SaveMode.Overwrite) shouldBe 3L
    DuckDbBulkLoad.write(df(2, 10), url, "t", SaveMode.Overwrite) shouldBe 2L
    tableRows(url, "t") shouldBe Seq(11L, 12L)
  }

  test("append creates-if-absent then accumulates") {
    val url = freshUrl()
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.Append) shouldBe 2L
    DuckDbBulkLoad.write(df(2, 5), url, "t", SaveMode.Append) shouldBe 2L
    tableRows(url, "t") shouldBe Seq(1L, 2L, 6L, 7L)
  }

  test("errorIfExists fails on present table, creates on absent") {
    val url = freshUrl()
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.ErrorIfExists) shouldBe 2L
    an[IllegalStateException] should be thrownBy
      DuckDbBulkLoad.write(df(1), url, "t", SaveMode.ErrorIfExists)
  }

  test("ignore is a no-op on present table (returns 0)") {
    val url = freshUrl()
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.Ignore) shouldBe 2L
    DuckDbBulkLoad.write(df(5, 50), url, "t", SaveMode.Ignore) shouldBe 0L
    tableRows(url, "t") shouldBe Seq(1L, 2L)
  }

  test("types survive the parquet staging: strings, booleans, nulls, timestamps") {
    import spark.implicits._
    val url = freshUrl()
    val d = Seq(
      (1L, Option("a"), Option(true), Option(java.sql.Timestamp.valueOf("2024-03-01 10:30:00"))),
      (2L, None, None, None)
    ).toDF("id", "s", "b", "ts")
    DuckDbBulkLoad.write(d, url, "t", SaveMode.Overwrite) shouldBe 2L
    val back = XlsxToDatabase.readJdbc(spark, url, "t").orderBy("id").collect()
    back(0).getString(1) shouldBe "a"
    back(0).getBoolean(2) shouldBe true
    back(0).getTimestamp(3) shouldBe java.sql.Timestamp.valueOf("2024-03-01 10:30:00")
    back(1).isNullAt(1) shouldBe true
    back(1).isNullAt(2) shouldBe true
    back(1).isNullAt(3) shouldBe true
  }

  test("staging directory is cleaned up on success and on failure") {
    val url = freshUrl()
    // a private staging parent: asserting on it (instead of a census of
    // the shared java.io.tmpdir) can't race with other tests/processes
    val parent = Files.createTempDirectory("bulk_staging_probe")
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.Overwrite, stagingParent = Some(parent))
    an[IllegalStateException] should be thrownBy
      DuckDbBulkLoad.write(df(1), url, "t", SaveMode.ErrorIfExists, stagingParent = Some(parent))
    parent.toFile.listFiles() shouldBe empty
  }

  test("append maps columns BY NAME when the table's column order differs") {
    val url = freshUrl()
    // existing table declares (s, id, flag) — different order than the df
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      """CREATE TABLE t (s VARCHAR, id BIGINT, flag BOOLEAN)""")
    finally c.close()
    DuckDbBulkLoad.write(df(2), url, "t", SaveMode.Append) shouldBe 2L
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("SELECT s, id FROM t ORDER BY id")
      rs.next(); rs.getString(1) shouldBe "v1"; rs.getLong(2) shouldBe 1L
      rs.next(); rs.getString(1) shouldBe "v2"; rs.getLong(2) shouldBe 2L
    } finally c2.close()
  }

  test("a batch stages concurrently, every staging job under the caller's job group") {
    val url = freshUrl()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.map(_.name).mkString(",") ->
          Option(e.properties.getProperty("spark.jobGroup.id")).orNull)
    }
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def target(t: String, n: Int) = DuckDbBulkLoad.Target(t, SaveMode.Overwrite,
      () => { threads.add(Thread.currentThread().getName); df(n) })
    sc.addSparkListener(listener)
    sc.setJobGroup("bulk-batch-group", "batch staging")
    try {
      DuckDbBulkLoad.writeAll(spark, url, Seq(target("a", 3), target("b", 5), target("c", 7))) shouldBe
        Seq(3L, 5L, 7L)
    } finally sc.clearJobGroup()
    // listener events arrive asynchronously
    def staging = jobs.asScala.toSeq.filter(_._1.contains("DuckDbBulkLoad"))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (staging.size < 3 && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    staging.size shouldBe 3
    all(staging.map(_._2)) shouldBe "bulk-batch-group"
    threads.size shouldBe 3 // one staging thread per table (defaultParallelism is 4)
    Seq("a", "b", "c").map(tableRows(url, _).size) shouldBe Seq(3, 5, 7)
  }

  test("a failure while staging or committing leaves the database unchanged and no staging dir") {
    val url = freshUrl()
    val parent = Files.createTempDirectory("bulk_batch_staging")
    DuckDbBulkLoad.write(df(2), url, "keep", SaveMode.Overwrite) shouldBe 2L
    // staging failure: a FAILFAST read of a malformed sheet
    val book = parent.getParent.resolve(s"${parent.getFileName}_bad.xlsx").toString
    graft.xlsx.XlsxWriter.write(book, Seq(graft.xlsx.XlsxWriter.Sheet("S", Seq("v"),
      Seq(Seq(1.0), Seq("not a number")))))
    def malformed() = spark.read.format("xlsx").option("mode", "FAILFAST")
      .option("sampleRows", 1).load(book)
    an[Exception] should be thrownBy DuckDbBulkLoad.writeAll(spark, url, Seq(
      DuckDbBulkLoad.Target("keep", SaveMode.Overwrite, () => df(9, 100)),
      DuckDbBulkLoad.Target("bad", SaveMode.Overwrite, () => malformed())),
      stagingParent = Some(parent))
    // commit failure: the second table's ErrorIfExists rolls back the first's replace
    an[IllegalStateException] should be thrownBy DuckDbBulkLoad.writeAll(spark, url, Seq(
      DuckDbBulkLoad.Target("keep", SaveMode.Overwrite, () => df(9, 100)),
      DuckDbBulkLoad.Target("keep", SaveMode.ErrorIfExists, () => df(1))),
      stagingParent = Some(parent))
    tableRows(url, "keep") shouldBe Seq(1L, 2L)
    an[Exception] should be thrownBy tableRows(url, "bad")
    parent.toFile.listFiles() shouldBe empty
  }
}
