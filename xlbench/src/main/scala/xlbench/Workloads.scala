package xlbench

import java.nio.file.{Files, Path}
import java.util.zip.ZipFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import scala.collection.mutable

/** A benchmark workload: seeded inputs, a warm-up, and the op list of one
  * pass. A run repeats passes until the measuring window is over; the
  * first is the cold pass. */
trait Workload {
  def name: String
  /** Passes a run makes at least, the cold one included, even when the
    * measuring window is over sooner. */
  def minPasses: Int = 3
  /** Make the inputs from the seed; returns digest lines to print. */
  def generate(ctx: Ctx): Seq[String]
  /** Untimed: fixture warm-up and one op of each op type. */
  def warmUp(ctx: Ctx): Unit
  def ops(ctx: Ctx): Seq[Op]
  /** Post-pass output checks; returns the records with failures marked. */
  def afterPass(ctx: Ctx, recs: Seq[OpRecord]): Seq[OpRecord] = recs
  /** Per-layer metrics of the traced run that are specific to this workload. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Several workloads run as one: their ops concatenated in each pass. */
final class Combined(val name: String, parts: Seq[Workload], override val minPasses: Int)
    extends Workload {
  def generate(ctx: Ctx): Seq[String] = parts.flatMap(_.generate(ctx))
  def warmUp(ctx: Ctx): Unit = parts.foreach(_.warmUp(ctx))
  def ops(ctx: Ctx): Seq[Op] = parts.flatMap(_.ops(ctx))
  override def afterPass(ctx: Ctx, recs: Seq[OpRecord]): Seq[OpRecord] =
    parts.foldLeft(recs)((rs, p) => p.afterPass(ctx, rs))
  override def layers(ctx: Ctx): Map[String, Double] = parts.flatMap(_.layers(ctx)).toMap
}

object Workloads {
  def byName(n: String): Workload = n match {
    // four passes of about 7 s: a first and three warm, whose median is steady
    case "etl" => new Combined("etl", Seq(new EtlImport, new EtlExport), minPasses = 4)
    case "queries" => QueryWorkload.queries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }

  def jdbcUrl(db: Path): String = s"jdbc:duckdb:${db.toAbsolutePath}"
}

/** Workbooks → DuckDB through `XlsxToDatabase.load`: replace, append and
  * upsert loads of the seeded corpus, each pass into a fresh database. */
final class EtlImport extends Workload {
  import ImportCorpus._
  val name = "etl_import"
  val OpsPerPass = 8
  private var corpus: Corpus = _
  private var warm: Corpus = _
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def generate(ctx: Ctx): Seq[String] = {
    val in = Files.createDirectories(ctx.work.resolve("import_in"))
    corpus = ImportCorpus.generate(in, ctx.seed, OpsPerPass)
    warm = ImportCorpus.generate(Files.createDirectories(ctx.work.resolve("import_warm")), ctx.seed ^ 0x5eedL, 6,
      maxRows = 300)
    Seq(s"import corpus: ${corpus.ops.size} workbooks, ${corpus.ops.map(_.rows).sum} rows, " +
      s"${corpus.bytes} bytes, sha256 ${corpus.digest}")
  }

  private def db(ctx: Ctx, tag: String): Path =
    Files.createDirectories(ctx.work.resolve("import_db")).resolve(s"$tag.duckdb")

  private def load(ctx: Ctx, op: ImportOp, url: String): Long = {
    val mode = if (op.mode == "append") SaveMode.Append else SaveMode.Overwrite
    val keys = if (op.mode == "upsert") Some(Seq("id")) else None
    val path = op.path.toString
    if (!ctx.traced)
      graft.etl.XlsxToDatabase.load(ctx.spark, path, url, mode, upsertKeys = keys).map(_.rows).sum
    else {
      // the same public calls `load` makes, one span each
      import graft.etl.{DuckDbBulkLoad, XlsxToDatabase => X}
      val sheets = ctx.layer(op.id, "etl.sheet_names")(X.sheetNames(path))
      sheets.map { sheet =>
        val df = ctx.layer(op.id, "xlsx.read_sheet")(X.readSheet(ctx.spark, path, sheet))
        val table = X.sanitizeTableName(sheet)
        keys match {
          case Some(k) => ctx.layer(op.id, "etl.upsert") { X.upsert(df, url, table, k); df.count() }
          case None => ctx.layer(op.id, "etl.bulk_load")(DuckDbBulkLoad.write(df, url, table, mode))
        }
      }.sum
    }
  }

  def warmUp(ctx: Ctx): Unit = {
    val url = Workloads.jdbcUrl(db(ctx, s"warm${System.nanoTime()}"))
    // untraced path first: `load` also registers the program's JDBC dialect
    Seq("replace", "append", "upsert").foreach { m =>
      warm.ops.find(_.mode == m).foreach(op =>
        graft.etl.XlsxToDatabase.load(ctx.spark, op.path.toString, url,
          if (m == "append") SaveMode.Append else SaveMode.Overwrite,
          upsertKeys = if (m == "upsert") Some(Seq("id")) else None))
    }
  }

  def ops(ctx: Ctx): Seq[Op] = {
    val url = Workloads.jdbcUrl(db(ctx, s"p${ctx.pass}"))
    corpus.ops.map { op =>
      Op(op.id, op.mode, "etl", () => load(ctx, op, url), rows => {
        if (ctx.traced && ctx.pass == 1) parseProbe(op)
        if (rows == op.rows) None else Some(s"loaded $rows rows, workbook has ${op.rows}")
      })
    }
  }

  /** Traced run: drain the parser and run inference on the op's workbook,
    * single-threaded, outside the op's timing. */
  private def parseProbe(op: ImportOp): Unit = {
    import graft.xlsx.{TypeInference, XlsxParser}
    val zip = new ZipFile(op.path.toFile)
    try {
      val t0 = System.nanoTime()
      val wb = XlsxParser.parseWorkbook(zip)
      val shared = XlsxParser.parseSharedStrings(zip)
      val dates = XlsxParser.parseDateStyles(zip)
      var cells = 0L
      wb.sheets.foreach { s =>
        XlsxParser.foreachRow(zip, s.partName, shared, dates, _ => true)(r => cells += r.cells.length)
      }
      acc("parse_s") += (System.nanoTime() - t0) / 1e9
      acc("parse_cells") += cells
      val t1 = System.nanoTime()
      wb.sheets.foreach(s => TypeInference.infer(zip, s.partName, shared, dates, wb.date1904,
        headerRow = true, inferTypes = true))
      acc("infer_s") += (System.nanoTime() - t1) / 1e9
    } finally zip.close()
  }

  override def afterPass(ctx: Ctx, recs: Seq[OpRecord]): Seq[OpRecord] = {
    val file = db(ctx, s"p${ctx.pass}")
    val specs = corpus.ops.flatMap(_.sheets.map(_._1)).map(s => s.table -> s).toMap
    val touched = corpus.ops.flatMap(op => op.sheets.map(_._1.table -> op.id)).groupMap(_._1)(_._2)
    val c = Fixtures.connect(file)
    val bad = try {
      val st = c.createStatement()
      corpus.expected.toSeq.flatMap { case (t, want) =>
        val got = scala.util.Try {
          val rs = st.executeQuery(checkSql(specs(t)))
          rs.next()
          val cols = specs(t).columns
          val r = TableCheck(rs.getLong(1), rs.getDouble(2),
            cols.indices.map(j => cols(j) -> rs.getLong(3 + j)).toMap,
            rs.getDouble(3 + cols.size), rs.getLong(4 + cols.size))
          rs.close(); r
        }
        if (got.toOption.contains(want)) None
        else Some(touched(t).toSet -> s"table $t: want $want, got ${got.fold(_.toString, _.toString)}")
      }
    } finally c.close()
    if (ctx.traced && ctx.pass == 1) {
      acc("db_bytes") += Files.size(file)
      acc("db_rows") += corpus.expected.values.map(_.rows).sum
    }
    bad.foldLeft(recs) { case (rs, (ids, why)) =>
      System.err.println(s"[xlbench] check failed: $why"); Harness.fail(rs, ctx.pass, ids, why)
    }
  }

  override def layers(ctx: Ctx): Map[String, Double] = Map(
    "xlsx.parse_cells_per_s" -> (if (acc("parse_s") > 0) acc("parse_cells") / acc("parse_s") else 0.0),
    "xlsx.infer_s" -> acc("infer_s"),
    "etl.db_bytes_per_row" -> (if (acc("db_rows") > 0) acc("db_bytes") / acc("db_rows") else 0.0))
}

/** DuckDB tables → workbook directories through the `--export` path of
  * `graft.etl.Main.run`: `readJdbc`, then the distributed xlsx sink. */
final class EtlExport extends Workload {
  val name = "etl_export"
  val OpsPerPass = 10
  private var tables: Seq[Fixtures.ExportTable] = Nil
  private var src: Path = _
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def generate(ctx: Ctx): Seq[String] = {
    src = ctx.work.resolve("export_src.duckdb")
    // log-uniform stratum midpoints in [500, 20000] in seeded order, plus
    // a small warm-up table
    val sizes = ImportCorpus.shuffle(ImportCorpus.sheetRows(OpsPerPass, 500, 20000),
      new java.util.SplittableRandom(ctx.seed)) :+ 300
    tables = Fixtures.writeExportTables(src, sizes, ctx.seed)
    Seq(s"export tables: ${tables.size - 1} tables, ${tables.init.map(_.rows).sum} rows, " +
      s"content md5 ${Fixtures.sha256(Iterator(Fixtures.exportDigest(src, tables.map(_.name)).getBytes))}")
  }

  private def out(ctx: Ctx, t: String): Path = ctx.work.resolve("export_out").resolve(s"p${ctx.pass}").resolve(t)

  private def export(ctx: Ctx, id: String, t: Fixtures.ExportTable, dir: Path): Long = {
    val url = Workloads.jdbcUrl(src)
    if (!ctx.traced)
      graft.etl.Main.run(ctx.spark, graft.etl.Main.Args(dir.toString, url, SaveMode.Overwrite, None,
        Some(t.name), ctx.master)).map(_.rows).sum
    else {
      import graft.etl.XlsxToDatabase
      // the same calls Main.run's export branch makes, one span each
      val df: DataFrame = ctx.layer(id, "etl.read_jdbc")(XlsxToDatabase.readJdbc(ctx.spark, url, t.name))
      ctx.layer(id, "xlsx.write")(df.write.format("xlsx").mode(SaveMode.Overwrite)
        .option("sheet", XlsxToDatabase.sanitizeTableName(t.name)).save(dir.toString))
      ctx.layer(id, "etl.export_count")(df.count())
    }
  }

  def warmUp(ctx: Ctx): Unit =
    export(ctx, "warm", tables.last, ctx.work.resolve(s"export_warm${System.nanoTime()}"))

  def ops(ctx: Ctx): Seq[Op] = tables.init.map { t =>
    val dir = out(ctx, t.name)
    Op(s"exp_${t.name}", "export", "etl", () => export(ctx, s"exp_${t.name}", t, dir), rows => {
      val err = check(t, rows, dir, ctx.traced && ctx.pass == 1)
      Workloads.deleteTree(dir)
      err
    })
  }

  /** Compare the written workbooks with the source table's aggregates. */
  private def check(t: Fixtures.ExportTable, rows: Long, dir: Path, measure: Boolean): Option[String] = {
    val books = Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".xlsx") && !f.getName.startsWith(".")).sortBy(_.getName)
    val sums = books.map(Ooxml.summarize)
    val got = sums.map(_.rows).sum
    def sumOf[V](f: Ooxml.SheetSummary => Map[String, V], k: String)(implicit n: Numeric[V]): V =
      sums.map(s => f(s).getOrElse(k, n.zero)).sum
    if (measure) {
      acc("bytes") += books.map(_.length.toDouble).sum
      acc("cells") += t.rows.toDouble * Fixtures.ExportColumns.size
    }
    val errs = Seq(
      Option.when(rows != t.rows)(s"reported $rows rows"),
      Option.when(got != t.rows)(s"sheets hold $got rows"),
      Option.when(sumOf(_.numSum, "id") != t.idSum)(s"id sum ${sumOf(_.numSum, "id")} != ${t.idSum}")) ++
      Fixtures.ExportColumns.map(c => Option.when(sumOf(_.nonBlank, c) != t.nonNull(c))(
        s"column $c has ${sumOf(_.nonBlank, c)} cells, want ${t.nonNull(c)}")) ++
      t.textLen.toSeq.map { case (c, n) => Option.when(sumOf(_.textLen, c) != n)(s"column $c text length") }
    errs.flatten.headOption.map(e => s"${t.name}: $e (want ${t.rows} rows)")
  }

  override def layers(ctx: Ctx): Map[String, Double] = Map(
    "xlsx.bytes_per_cell" -> (if (acc("cells") > 0) acc("bytes") / acc("cells") else 0.0))
}
