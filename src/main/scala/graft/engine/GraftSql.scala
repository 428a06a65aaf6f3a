package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** SQL entry point.
  *
  * The reference accepts two statement shapes (its planner rejects all else,
  * /root/reference/src/planner/queryplanner.rs:36-96): SELECT queries and
  * Hive-style `CREATE EXTERNAL TABLE name (cols) STORED AS PARQUET LOCATION
  * 'path'` (doc example at /root/reference/src/parser/mod.rs:26-28). Spark's
  * native DDL spells the latter `CREATE TABLE ... USING parquet LOCATION`,
  * so we translate the mura form and delegate everything else to
  * `spark.sql`, where Catalyst handles the full lifecycle.
  *
  * Unlike the reference REPL — which builds a fresh empty catalog per line
  * and therefore panics on any table lookup (main.rs:41-42, catalog.rs:29-31)
  * — registration here persists in the session catalog.
  */
object GraftSql {

  private val CreateExternal =
    """(?is)\s*CREATE\s+EXTERNAL\s+TABLE\s+(\w+)\s*(?:\(([^)]*)\))?\s*STORED\s+AS\s+(\w+)\s+LOCATION\s+'([^']+)'\s*;?\s*""".r

  def sql(spark: SparkSession, text: String): DataFrame = text match {
    case CreateExternal(name, cols, fmt, location) =>
      val declared = Option(cols).map(_.trim).filter(_.nonEmpty).map(parseSchema)
      val reader = declared.fold(spark.read)(s => spark.read.schema(s))
      val df = (fmt.toUpperCase, declared) match {
        // no column list: the schema comes from the parquet footer, read on
        // the driver once per unchanged file set (graft.Tables.parquet)
        case ("PARQUET", None) => graft.Tables.parquet(spark, location)
        case ("PARQUET", _)    => reader.parquet(location)
        case ("CSV", _)        => reader.option("header", "true").csv(location)
        case ("JSON", _)       => reader.json(location)
        case (other, _)        => throw new IllegalArgumentException(s"Unsupported file type: $other")
      }
      df.createOrReplaceTempView(name)
      df
    case other => spark.sql(other)
  }

  /** SQL type -> Spark type, the mapping the reference declares at
    * /root/reference/src/planner/queryplanner.rs:176-191 (NOT NULL honored
    * as nullable=false, :167). Two deliberate divergences, Spark-idiomatic
    * by choice: FLOAT/REAL -> 32-bit FloatType (the reference widens
    * Float(_)/Real to Arrow Float64; we honor the declared width), and
    * TIMESTAMP -> Spark's microsecond TimestampType (Arrow's default is
    * nanosecond; Spark has no ns timestamp type). Pinned by
    * FuzzSqlSpec's schema round-trip.
    */
  private[graft] def parseSchema(defs: String): StructType = {
    val fields = defs.split(",").map(_.trim).filter(_.nonEmpty).map { d =>
      val notNull = d.toUpperCase.contains("NOT NULL")
      val parts = d.split("\\s+")
      StructField(parts(0), toSparkType(parts(1)), nullable = !notNull)
    }
    StructType(fields)
  }

  private[graft] def toSparkType(sqlType: String): DataType = {
    val base = sqlType.toUpperCase.takeWhile(_ != '(')
    base match {
      case "BOOLEAN"                   => BooleanType
      case "TINYINT"                   => ByteType
      case "SMALLINT"                  => ShortType
      case "INT" | "INTEGER"           => IntegerType
      case "BIGINT"                    => LongType
      // Unsigned widening, SURVEY §1.2 for the reference's UInt8..UInt64
      // (/root/reference/src/planner/logicalplan.rs:171-177): Spark has no
      // unsigned types, so each widens to the next signed type that holds
      // its full range — the same rule Spark's Parquet reader applies to
      // unsigned parquet logical types. Both bit-count (UINT8) and
      // byte-count (UINT1) spellings accepted.
      case "UINT8" | "UINT1" | "UTINYINT"    => ShortType
      case "UINT16" | "UINT2" | "USMALLINT"  => IntegerType
      case "UINT32" | "UINT4" | "UINTEGER"   => LongType
      case "UINT64" | "UBIGINT"              => DecimalType(20, 0)
      case "FLOAT" | "REAL"            => FloatType
      case "DOUBLE"                    => DoubleType
      case "CHAR" | "VARCHAR" | "TEXT" | "STRING" => StringType
      case "TIMESTAMP"                 => TimestampType
      case "DATE"                      => DateType
      case "BINARY"                    => BinaryType
      case other                       => throw new IllegalArgumentException(s"Unsupported SQL type: $other")
    }
  }
}
