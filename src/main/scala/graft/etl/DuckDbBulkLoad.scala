package graft.etl

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, Statement}
import java.util.Properties
import java.util.concurrent.{ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Bulk-load fast path for DuckDB JDBC targets.
  *
  * Spark's generic JDBC sink binds and executes row-at-a-time batches —
  * measured ~3k rows/s against duckdb_jdbc 1.0 (JdbcPerfProbe: 25k rows
  * in 7–9 s), which would make the engine's core xlsx→database workload
  * insert-bound at any scale. The warehouse-native idiom is staged bulk
  * ingest: write each DataFrame to a parquet staging directory (Spark's
  * fully parallel writer), then issue set-based statements over JDBC
  * (`CREATE OR REPLACE TABLE … AS SELECT * FROM read_parquet(…)`), which
  * DuckDB executes with its own parallel parquet reader. The per-row path
  * never runs anywhere, and type mapping rides on parquet (timestamps,
  * decimals, nulls — no JDBC bind-type drift). Measured ~40× over the
  * row path at 25k rows; the gap widens with volume.
  *
  * A load is a BATCH of tables ([[writeAll]]; [[write]] is its one-table
  * case), in two phases:
  *  - staging: every table's frame is built and written to parquet at
  *    the same time, on a pool of `min(#tables, defaultParallelism)`
  *    threads that carry the caller's Spark local properties (job group,
  *    description, cancellation). A workbook's sheets are independent
  *    1-task jobs, so this is where the cores are;
  *  - commit: ONE connection and ONE transaction run the per-table SQL
  *    in batch order (so two entries naming the same table behave as two
  *    sequential loads), then one CHECKPOINT. A failure anywhere leaves
  *    the database as it was, and every staging directory is deleted on
  *    every path.
  *
  * SaveMode semantics match Spark's JDBC sink (table-level):
  * Overwrite = replace table; Append = create-if-absent then insert;
  * ErrorIfExists = fail when present; Ignore = no-op when present.
  *
  * Non-DuckDB URLs fall back to `df.write.jdbc`, one table at a time —
  * this class is a dialect fast path, not a replacement sink. In-process
  * file DBs can read the local staging dir by construction; a remote
  * warehouse variant of the same pattern stages to object storage.
  */
object DuckDbBulkLoad {

  /** One table of a batch load. `frame` is built on a staging thread, so
    * work done while building it (xlsx schema inference) runs in
    * parallel with the other tables' staging too. */
  final case class Target(table: String, mode: SaveMode, frame: () => DataFrame)

  def supports(jdbcUrl: String): Boolean = jdbcUrl.startsWith("jdbc:duckdb:")

  private def qid(id: String) = "\"" + id.replace("\"", "\"\"") + "\""
  private def qstr(s: String) = "'" + s.replace("'", "''") + "'"

  /** Write `df` to `table` honoring `mode`: the one-table case of
    * [[writeAll]]. Returns the number of rows loaded. */
  def write(df: DataFrame, jdbcUrl: String, table: String, mode: SaveMode,
            props: Properties = new Properties(),
            stagingParent: Option[Path] = None): Long =
    writeAll(df.sparkSession, jdbcUrl, Seq(Target(table, mode, () => df)), props, stagingParent).head

  /** Load every target; returns the rows loaded per target, in order.
    * Counts come from the staging parquet's FOOTER METADATA
    * (milliseconds), so callers that report row counts don't pay a
    * second full source scan for them.
    *
    * `stagingParent`, when set, hosts the staging directory instead of
    * the global java.io.tmpdir — lets tests assert cleanup on a private
    * directory instead of a racy census of the shared tmpdir. */
  def writeAll(spark: SparkSession, jdbcUrl: String, targets: Seq[Target],
               props: Properties = new Properties(),
               stagingParent: Option[Path] = None): Seq[Long] =
    if (!supports(jdbcUrl)) targets.map(t => writeGeneric(t.frame(), jdbcUrl, t.table, t.mode, props))
    else {
      DuckDbDialect.registered
      val root: Path = stagingParent match {
        case Some(p) => Files.createTempDirectory(p, "graft_duckload_")
        case None => Files.createTempDirectory("graft_duckload_")
      }
      val staged = targets.zipWithIndex.map { case (t, i) => t -> root.resolve(i.toString) }
      try {
        stage(spark, staged)
        commit(jdbcUrl, props, staged)
      } finally {
        val files = Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        try files.forEach(p => Files.deleteIfExists(p)) finally files.close()
      }
    }

  /** Write every target's frame to its parquet directory, concurrently
    * when there is more than one. Waits for EVERY job before returning or
    * throwing: the caller deletes the directories next, under jobs that
    * must not still write. */
  private def stage(spark: SparkSession, staged: Seq[(Target, Path)]): Unit = {
    def one(t: Target, dir: Path): Unit = t.frame().write.mode(SaveMode.Overwrite).parquet(dir.toString)
    val threads = math.min(staged.size, spark.sparkContext.defaultParallelism)
    if (threads <= 1) staged.foreach { case (t, dir) => one(t, dir) }
    else {
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val futures = staged.map { case (t, dir) => SQLExecution.withThreadLocalCaptured(session, pool)(one(t, dir)) }
        futures.foreach(f => scala.util.Try(f.get())) // every job done, failed or not
        futures.foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
      } finally pool.shutdown()
    }
  }

  /** The per-table SQL for every staged target in one transaction, then
    * one CHECKPOINT. */
  private def commit(jdbcUrl: String, props: Properties, staged: Seq[(Target, Path)]): Seq[Long] = {
    val conn = DriverManager.getConnection(jdbcUrl, props)
    try {
      val st = conn.createStatement()
      conn.setAutoCommit(false)
      val rows = try {
        val r = staged.map { case (t, dir) => loadOne(conn, st, t, dir) }
        conn.commit()
        r
      } catch {
        case e: Throwable => conn.rollback(); throw e
      }
      conn.setAutoCommit(true)
      // CHECKPOINT before the connection closes: a small write (CTAS of
      // a few rows) otherwise lives ONLY in the .wal — under the
      // auto-checkpoint threshold, close does not fold it in — and a
      // later opener (e.g. Spark's JDBC read, which connects with its
      // own Properties and thus its own duckdb instance cache key) can
      // race WAL replay and silently drop the table. Observed: a
      // two-sheet load where the second sheet's table vanished when the
      // first was read back. Checkpointing makes the on-disk file the
      // complete truth before any other opener arrives.
      // Best-effort like upsert's: CHECKPOINT can legitimately fail while
      // another live transaction holds the WAL; then we merely fall back
      // to (racy but usually fine) replay.
      try st.execute("CHECKPOINT")
      catch { case _: java.sql.SQLException => () }
      rows
    } finally conn.close()
  }

  private def loadOne(conn: Connection, st: Statement, t: Target, dir: Path): Long = {
    val pat = qstr(s"$dir/*.parquet")
    val table = qid(t.table)
    def stagedRows: Long = {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM read_parquet($pat)")
      rs.next(); rs.getLong(1)
    }
    // sees the tables this transaction already created or replaced
    def exists: Boolean = {
      val ps = conn.prepareStatement(
        "SELECT count(*) FROM information_schema.tables " +
          "WHERE table_name = ? AND table_schema = current_schema() " +
          "AND table_type = 'BASE TABLE'")
      ps.setString(1, t.table)
      val rs = ps.executeQuery()
      rs.next() && rs.getLong(1) > 0
    }
    def create(sql: String): Long = { st.execute(s"$sql $table AS SELECT * FROM read_parquet($pat)"); stagedRows }
    t.mode match {
      case SaveMode.Overwrite => create("CREATE OR REPLACE TABLE")
      case SaveMode.Append if exists =>
        // Insert BY NAME, not position: an existing table whose column
        // order differs from the DataFrame's would silently mismap
        // type-compatible columns under `INSERT ... SELECT *` (Spark's
        // JDBC sink names its columns; so must we).
        st.execute(s"INSERT INTO $table BY NAME SELECT * FROM read_parquet($pat)")
        stagedRows
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"table ${t.table} already exists (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => 0L
      case _ => create("CREATE TABLE")
    }
  }

  /** The generic JDBC sink, with the DuckDB path's count semantics. */
  private def writeGeneric(df: DataFrame, jdbcUrl: String, table: String, mode: SaveMode,
                           props: Properties): Long = {
    // Mirror the DuckDB path's semantics so LoadedTable counts are
    // consistent across dialects: Ignore over an existing table is a
    // 0-row no-op (Spark's sink already skips the write; counting df
    // here would both re-scan the source and report rows that were
    // never loaded). For modes that do write, count the delta on the
    // TARGET table (two set-based COUNTs over JDBC) rather than
    // re-scanning df — for xlsx sources a second full scan re-parses
    // the workbook.
    val before = jdbcCount(jdbcUrl, table, props) // None = table absent (or probe failed)
    if (mode == SaveMode.Ignore && before.isDefined) return 0L
    df.write.mode(mode).jdbc(jdbcUrl, table, props)
    // Post-write probe failure (permissions, exotic dialect) must not
    // report 0 rows for a write that succeeded: fall back to counting
    // the source DataFrame — a second scan, but only on the degraded
    // path. Append's before/after delta is best-effort under
    // concurrent writers (same caveat as any count-delta accounting).
    jdbcCount(jdbcUrl, table, props) match {
      case Some(after) if mode == SaveMode.Append => after - before.getOrElse(0L)
      case Some(after) => after // Overwrite/ErrorIfExists/first-write Ignore load the whole table
      case None => df.count()
    }
  }

  /** COUNT(*) on `table` via JDBC; None when the table doesn't exist
    * (probe query fails). Identifier quoting comes from the URL's
    * registered JdbcDialect — ANSI double quotes would make the probe
    * fail unconditionally on backtick dialects (MySQL), turning every
    * Append/Overwrite count into the degraded fallback path. */
  private def jdbcCount(jdbcUrl: String, table: String, props: Properties): Option[Long] = {
    val quoted = org.apache.spark.sql.jdbc.JdbcDialects.get(jdbcUrl).quoteIdentifier(table)
    val conn = DriverManager.getConnection(jdbcUrl, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $quoted")
        rs.next(); Some(rs.getLong(1))
      } catch { case _: java.sql.SQLException => None }
    } finally conn.close()
  }
}
