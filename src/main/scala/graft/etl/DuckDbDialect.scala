package graft.etl

import java.sql.SQLException
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** JDBC dialect for DuckDB (Spark has none built in): correct DDL type
  * mapping (Spark's defaults emit BIT(1)/TEXT, which DuckDB rejects or
  * mis-types), BIGINT read back as a long, and not-found classification
  * so `tableExists` probes are treated as "missing table" instead of
  * fatal errors.
  */
object DuckDbDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:duckdb")

  override def quoteIdentifier(colName: String): String =
    "\"" + colName.replace("\"", "\"\"") + "\""

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType    => Some(JdbcType("VARCHAR", java.sql.Types.VARCHAR))
    case BooleanType   => Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
    case DoubleType    => Some(JdbcType("DOUBLE", java.sql.Types.DOUBLE))
    case FloatType     => Some(JdbcType("FLOAT", java.sql.Types.FLOAT))
    case ByteType      => Some(JdbcType("TINYINT", java.sql.Types.TINYINT))
    case ShortType     => Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
    case IntegerType   => Some(JdbcType("INTEGER", java.sql.Types.INTEGER))
    case LongType      => Some(JdbcType("BIGINT", java.sql.Types.BIGINT))
    case TimestampType => Some(JdbcType("TIMESTAMP", java.sql.Types.TIMESTAMP))
    case DateType      => Some(JdbcType("DATE", java.sql.Types.DATE))
    case BinaryType    => Some(JdbcType("BLOB", java.sql.Types.BLOB))
    case d: DecimalType => Some(JdbcType(s"DECIMAL(${d.precision},${d.scale})", java.sql.Types.DECIMAL))
    case _ => None
  }

  /** duckdb_jdbc 1.0 reports every column as unsigned
    * (`ResultSetMetaData.isSigned` is always false), so Spark's default
    * maps BIGINT to DECIMAL(20,0) — a type the xlsx sink cannot write.
    * A DuckDB BIGINT is signed 64-bit: it is a long. */
  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
                               md: MetadataBuilder): Option[DataType] =
    if (sqlType == java.sql.Types.BIGINT && typeName.equalsIgnoreCase("BIGINT")) Some(LongType)
    else None

  override def isObjectNotFoundException(e: SQLException): Boolean = {
    val m = Option(e.getMessage).getOrElse("")
    m.contains("does not exist") || m.contains("Catalog Error")
  }

  private[graft] lazy val registered: Unit = JdbcDialects.registerDialect(this)
}
