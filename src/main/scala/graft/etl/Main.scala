package graft.etl

import graft.xlsx.XlsxSink
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Command-line entry with the reference tool's UX: load every sheet of
  * an xlsx workbook into a database over JDBC, one table per sheet, with
  * inferred schemas and sanitized names — plus the reverse direction.
  *
  * {{{
  *   runMain graft.etl.Main <workbook.xlsx> <jdbc-url> [options]
  *     --append         append to existing tables (default: replace)
  *     --upsert KEYS    comma-separated key columns: update matching
  *                      rows, insert new ones (idempotent re-runs)
  *     --sheet NAME     load only this sheet (repeatable)
  *     --export TABLE   REVERSE: read TABLE over JDBC and write it as a
  *                      workbook directory at the first positional path
  *     --master URL     Spark master (default local[*])
  * }}}
  *
  * The heavy lifting is [[XlsxToDatabase]] (a workbook's sheets staged
  * concurrently and committed in one DuckDB transaction) and the
  * distributed xlsx sink ([[XlsxSink]], whose committed row count the
  * export reports); this wrapper only parses arguments and owns the
  * SparkSession lifecycle, so the same paths are callable as a library
  * (tests, notebooks) or as a batch job.
  */
object Main {

  case class Args(xlsx: String, url: String, mode: SaveMode,
                  sheets: Option[Seq[String]], exportTable: Option[String], master: String,
                  upsertKeys: Option[Seq[String]] = None)

  def parse(argv: Seq[String]): Args = {
    def usage(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"$msg\nusage: graft.etl.Main <workbook.xlsx> <jdbc-url> " +
          "[--append] [--upsert K1,K2] [--sheet NAME]... [--export TABLE] [--master URL]")
    var positional = Vector.empty[String]
    var mode: SaveMode = SaveMode.Overwrite
    var appendSeen = false
    var sheets = Vector.empty[String]
    var exportTable: Option[String] = None
    var upsert: Option[Seq[String]] = None
    var master = "local[*]"
    var rest = argv.toList
    while (rest.nonEmpty) rest = rest match {
      case "--append" :: t => mode = SaveMode.Append; appendSeen = true; t
      case "--sheet" :: v :: t => sheets :+= v; t
      case "--export" :: v :: t => exportTable = Some(v); t
      case "--upsert" :: v :: t =>
        upsert = Some(v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        if (upsert.get.isEmpty) usage("--upsert needs at least one key column"); t
      case "--master" :: v :: t => master = v; t
      case ("--sheet" | "--master" | "--export" | "--upsert") :: Nil => usage("missing option value")
      case o :: _ if o.startsWith("--") => usage(s"unknown option $o")
      case v :: t => positional :+= v; t
      case Nil => Nil
    }
    if (exportTable.isDefined && upsert.isDefined)
      usage("--export and --upsert cannot be combined (export reads FROM the database)")
    if (appendSeen && upsert.isDefined)
      usage("--append and --upsert cannot be combined (upsert defines its own merge semantics)")
    positional match {
      case Vector(xlsx, url) =>
        Args(xlsx, url, mode, if (sheets.isEmpty) None else Some(sheets.toSeq), exportTable,
          master, upsert)
      case _ => usage(s"expected 2 positional args, got ${positional.size}")
    }
  }

  /** Library-callable core (tests pass their own session). */
  def run(spark: SparkSession, a: Args): Seq[XlsxToDatabase.LoadedTable] = a.exportTable match {
    case None =>
      XlsxToDatabase.load(spark, a.xlsx, a.url, a.mode, onlySheets = a.sheets,
        upsertKeys = a.upsertKeys)
    case Some(table) =>
      // reverse direction: JDBC table → workbook directory at a.xlsx; the
      // row count is the sink's own, so the table is read exactly once
      val df = XlsxToDatabase.readJdbc(spark, a.url, table)
      val rows = XlsxSink.write(df, a.xlsx, a.mode, XlsxToDatabase.sanitizeTableName(table))
      Seq(XlsxToDatabase.LoadedTable(table, a.xlsx, rows))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val spark = SparkSession.builder()
      .master(a.master)
      .appName("xlsx-to-database")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val loaded = run(spark, a)
      if (a.exportTable.isDefined)
        loaded.foreach(t => println(s"exported table '${t.sheet}' -> workbook dir ${t.table} (${t.rows} rows)"))
      else
        loaded.foreach(t => println(s"loaded sheet '${t.sheet}' -> table ${t.table} (${t.rows} rows)"))
    } finally spark.stop()
  }
}
