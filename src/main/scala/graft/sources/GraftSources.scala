package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface. The reference declares Parquet-only reads via
  * `CREATE EXTERNAL TABLE ... STORED AS PARQUET`
  * (/root/reference/src/parser/mod.rs:21-28, queryplanner.rs:83-86) and has
  * no writer at all; we expose the full Spark format matrix with
  * scale-sensible defaults.
  *
  * Scale notes: parquet reads are vectorized + predicate/projection
  * pushdown; writers partition by caller-chosen columns so downstream scans
  * prune; maxRecordsPerFile guards against giant output files.
  */
object GraftSources {

  /** With no schema, the schema comes from the footers, read on the driver
    * ([[graft.Tables.parquet]]), not from a Spark job.
    */
  def readParquet(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(graft.Tables.parquet(spark, path))(s => spark.read.schema(s).parquet(path))

  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None,
      header: Boolean = true, delimiter: String = ","): DataFrame = {
    val r = spark.read.option("header", header.toString).option("delimiter", delimiter)
    schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  def readJson(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).json(path)

  /** Partitioned parquet write — the default sink for pipeline output. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def readOrc(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Bucketed managed table: pre-shuffles once at write time so joins and
    * aggregations on the bucket key need no exchange at read time — the
    * standard co-location strategy for repeatedly-joined 100 TB fact
    * tables. (Bucketing requires saveAsTable; the table lives in the
    * session warehouse.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int, sortCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
    sortCol.fold(w)(c => w.sortBy(c)).saveAsTable(table)
  }

  /** Range-clustered layout: repartitionByRange + in-partition sort before
    * the write, so each output file owns a (near-)disjoint key range and
    * parquet min/max footer stats prune whole files for range predicates —
    * the single-key clustering that makes time/key-range scans cheap on a
    * 100 TB table. The sampled range partitioner keeps files balanced under
    * skew (unlike hash-partitioning by a monotonic key).
    */
  def writeRangeClustered(df: DataFrame, path: String, colName: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(colName))
      .sortWithinPartitions(colName)
      .write.mode(SaveMode.Overwrite).parquet(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)
}
