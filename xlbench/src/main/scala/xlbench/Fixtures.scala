package xlbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager}

/** Seeded inputs made with DuckDB SQL over JDBC, never with the program:
  *  - the query fixture: the ten parquet tables the graded queries read
  *    (same schemas and value domains as the TPC-H-like test data);
  *  - the export source tables: DuckDB tables the export workload dumps.
  * All randomness is `hash(a, b, seed)`, single-threaded, so one seed
  * gives byte-identical parquet and identical table contents. */
object Fixtures {

  def connect(dbFile: Path): Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    DriverManager.getConnection(s"jdbc:duckdb:${dbFile.toAbsolutePath}")
  }

  private def prepare(c: Connection, seed: Long): Unit = {
    val st = c.createStatement()
    st.execute("SET threads=1")
    // uniform [0,1) from (row, stream): deterministic for a DuckDB version
    st.execute(s"CREATE OR REPLACE MACRO u(a, b) AS ((hash(a, b, $seed) >> 11)::DOUBLE / 9007199254740992.0)")
    st.close()
  }

  private def pick(vals: Seq[String], u: String): String =
    vals.map(v => s"'$v'").mkString("[", ",", "]") + s"[1 + floor(($u) * ${vals.size})::INT]"

  val Words: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** SELECT statements of the query fixture at scale factor `sf`
    * (sf 0.01 = 60k lineitem rows). */
  def queryTables(sf: Double): Seq[(String, String)] = {
    val nc = (150000 * sf).toInt; val ns = (10000 * sf).toInt; val np = (200000 * sf).toInt
    val no = (1500000 * sf).toInt; val nl = 4 * no; val ne = (1000000 * sf).toInt
    val nd = 500 max (50000 * sf).toInt; val nv = 500 max (20000 * sf).toInt
    val day = "INTERVAL 1 DAY"
    Seq(
      "region" -> s"SELECT i::INT AS r_regionkey, ${pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), "i / 5.0")} AS r_name FROM range(5) t(i)",
      "nation" -> "SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey FROM range(25) t(i)",
      "customer" -> (s"SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, " +
        "floor(u(i, 1) * 25)::INT AS c_nationkey, round(-999.99 + u(i, 2) * 10999.0, 2) AS c_acctbal, " +
        s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), "u(i, 3)")} AS c_mktsegment " +
        s"FROM range($nc) t(i)"),
      "supplier" -> (s"SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, " +
        "floor(u(i, 11) * 25)::INT AS s_nationkey, round(-999.99 + u(i, 12) * 10999.0, 2) AS s_acctbal " +
        s"FROM range($ns) t(i)"),
      "part" -> (s"SELECT i AS p_partkey, " +
        s"${pick(Seq("blue", "old", "hot", "large", "cold", "small", "new", "red"), "u(i, 21)")} || ' ' || " +
        s"${pick(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"), "u(i, 22)")} AS p_name, " +
        "'Brand#' || (1 + floor(u(i, 23) * 25)::INT) AS p_brand, " +
        s"${pick(Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"), "u(i, 24)")} AS p_type, " +
        "(1 + floor(u(i, 25) * 50))::INT AS p_size, round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice " +
        s"FROM range($np) t(i)"),
      "orders" -> (s"SELECT i AS o_orderkey, floor(u(i, 31) * $nc)::BIGINT AS o_custkey, " +
        s"${pick(Seq("F", "O", "P"), "u(i, 32)")} AS o_orderstatus, round(1000.0 + u(i, 33) * 499000.0, 2) AS o_totalprice, " +
        s"TIMESTAMP '1995-01-01' + floor(u(i, 34) * 2404)::INT * $day AS o_orderdate, " +
        s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "u(i, 35)")} AS o_orderpriority " +
        s"FROM range($no) t(i)"),
      "lineitem" -> (s"SELECT floor(u(i, 41) * $no)::BIGINT AS l_orderkey, floor(u(i, 42) * $np)::BIGINT AS l_partkey, " +
        s"floor(u(i, 43) * $ns)::BIGINT AS l_suppkey, (1 + floor(u(i, 44) * 7))::INT AS l_linenumber, " +
        "(1 + floor(u(i, 45) * 50))::DOUBLE AS l_quantity, round(900.0 + u(i, 46) * 104000.0, 2) AS l_extendedprice, " +
        "floor(u(i, 47) * 11) / 100.0 AS l_discount, floor(u(i, 48) * 9) / 100.0 AS l_tax, " +
        s"${pick(Seq("A", "N", "R"), "u(i, 49)")} AS l_returnflag, ${pick(Seq("F", "O"), "u(i, 50)")} AS l_linestatus, " +
        s"TIMESTAMP '1995-01-02' + floor(u(i, 51) * 2498)::INT * $day AS l_shipdate " +
        s"FROM range($nl) t(i)"),
      "events" -> (s"SELECT i AS event_id, TIMESTAMP '2024-01-01' + to_microseconds(" +
        s"(i * (2592000000000 // $ne) + floor(u(i, 61) * (2592000000000 // $ne)))::BIGINT) AS ts, " +
        s"floor(u(i, 62) * ${150 max (15000 * sf).toInt})::BIGINT AS user_id, " +
        s"${pick(Seq("click", "error", "purchase", "signup", "view"), "u(i, 63)")} AS event_type, " +
        """round(0.01 + u(i, 64) * 350.0, 2) AS value, '{"k": ' || floor(u(i, 65) * 100)::INT || '}' AS props """ +
        s"FROM range($ne) t(i)"),
      // every tenth document is a near-duplicate of its predecessor, so the
      // dedup families find pairs
      "documents" -> (s"WITH base AS (SELECT i, array_to_string(list_transform(range(8 + floor(u(i, 71) * 80)::INT), " +
        s"w -> ${pick(Words, "u(i * 1000 + w, 72)")}), ' ') AS txt FROM range($nd) t(i)) " +
        "SELECT b.i AS doc_id, CASE WHEN b.i % 10 = 9 THEN p.txt || ' dup' ELSE b.txt END AS text, " +
        s"${pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), "u(b.i, 73)")} AS lang, 'src' || (b.i % 20) AS source, " +
        "length(CASE WHEN b.i % 10 = 9 THEN p.txt || ' dup' ELSE b.txt END)::BIGINT AS n_chars " +
        "FROM base b LEFT JOIN base p ON p.i = b.i - 1 ORDER BY b.i"),
      // unit vectors around ten label centroids
      "embeddings" -> (s"WITH raw AS (SELECT i, floor(u(i, 81) * 10)::INT AS label, " +
        "list_transform(range(64), d -> (u(label * 64 + d, 82) - 0.5) + 0.6 * (u(i * 64 + d, 83) + u(i * 64 + d, 84) - 1.0)) AS v " +
        s"FROM range($nv) t(i)) " +
        "SELECT i AS vec_id, list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding, " +
        "label FROM raw ORDER BY i"))
  }

  /** Write the query fixture (or the tables in `only`) as parquet files
    * under `dir`. */
  def writeQueryFixture(dir: Path, sf: Double, seed: Long, only: Set[String] = Set.empty): Unit = {
    Files.createDirectories(dir)
    val c = connect(dir.resolve("gen.duckdb"))
    try {
      prepare(c, seed)
      val st = c.createStatement()
      queryTables(sf).filter(t => only.isEmpty || only(t._1)).foreach { case (t, sql) =>
        st.execute(s"COPY ($sql) TO '${dir.resolve(s"$t.parquet").toAbsolutePath}' (FORMAT PARQUET)")
      }
      st.close()
    } finally c.close()
    Files.deleteIfExists(dir.resolve("gen.duckdb"))
    Files.deleteIfExists(dir.resolve("gen.duckdb.wal"))
  }

  /** One export source table: its DuckDB name, row count, and the
    * generator-side expectations the export check compares against. */
  final case class ExportTable(name: String, rows: Long, idSum: Double,
      nonNull: Map[String, Long], textLen: Map[String, Long])

  val ExportColumns: Seq[String] = Seq("id", "qty", "price", "segment", "comment", "shipped", "flag", "note")

  /** Create `sizes.size` tables in the DuckDB file `db`; table `k` has
    * `sizes(k)` rows of a mixed-type schema with NULLs and repeated
    * strings. */
  def writeExportTables(db: Path, sizes: Seq[Int], seed: Long): Seq[ExportTable] = {
    val c = connect(db)
    try {
      prepare(c, seed)
      val st = c.createStatement()
      sizes.zipWithIndex.map { case (n, k) =>
        val t = s"src_$k"
        st.execute(s"CREATE OR REPLACE TABLE $t AS SELECT i::INTEGER AS id, " +
          s"floor(u(i, ${k * 10 + 1}) * 1000)::INTEGER AS qty, " +
          s"round(u(i, ${k * 10 + 2}) * 10000.0, 2) AS price, " +
          s"${pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), s"u(i, ${k * 10 + 3})")} AS segment, " +
          s"'c' || floor(u(i, ${k * 10 + 4}) * ${n / 2 max 1})::BIGINT || '-' || ${pick(Words, s"u(i, ${k * 10 + 5})")} AS comment, " +
          s"TIMESTAMP '2020-01-01' + floor(u(i, ${k * 10 + 6}) * 1500)::INT * INTERVAL 1 DAY AS shipped, " +
          s"u(i, ${k * 10 + 7}) < 0.5 AS flag, " +
          s"CASE WHEN u(i, ${k * 10 + 8}) < 0.3 THEN NULL ELSE 'n' || (i % 97) END AS note " +
          s"FROM range($n) t(i)")
        val rs = st.executeQuery(
          s"SELECT count(*), sum(id)::DOUBLE, " + ExportColumns.map(col => s"count($col)").mkString(", ") +
            s", sum(length(segment)), sum(length(comment)), sum(length(note)) FROM $t")
        rs.next()
        val nonNull = ExportColumns.zipWithIndex.map { case (col, j) => col -> rs.getLong(3 + j) }.toMap
        val base = 3 + ExportColumns.size
        val e = ExportTable(t, rs.getLong(1), rs.getDouble(2), nonNull,
          Map("segment" -> rs.getLong(base), "comment" -> rs.getLong(base + 1), "note" -> rs.getLong(base + 2)))
        rs.close()
        e
      }
    } finally {
      c.createStatement().execute("CHECKPOINT")
      c.close()
    }
  }

  /** Order-stable digest of the export tables' contents. */
  def exportDigest(db: Path, tables: Seq[String]): String = {
    val c = connect(db)
    try {
      val st = c.createStatement()
      tables.map { t =>
        val rs = st.executeQuery(s"SELECT md5(string_agg(x::VARCHAR, '|' ORDER BY id)) FROM $t x")
        rs.next(); val d = rs.getString(1); rs.close(); d
      }.mkString(",")
    } finally c.close()
  }

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
