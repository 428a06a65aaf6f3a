package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100 TB dataset needs: streaming ingestion and partitioned writes leave
  * thousands of KB-sized files, and file-open overhead (plus driver
  * listing memory) then dominates scan cost. Compaction rewrites a
  * directory into files near a target size.
  *
  * Scale shape: the only full pass is the copy itself (unavoidable);
  * sizing comes from the file-system LISTING (no data read), and the
  * rewrite is one `repartition(n)` round-robin shuffle producing n
  * uniform files. Use [[rewriteSorted]] to pay the same pass but leave
  * the data clustered by a key (combine with a Z-order column for
  * two-dimensional locality — see `q_write_zordered`).
  */
object Compact {

  /** Recursive listing of the parquet data files under `dir` — the ONE
    * file-matching rule compaction sizing and its tests share.
    */
  def parquetFiles(spark: SparkSession, dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.files(fs, path).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** Total byte size of the parquet files under `dir` from the listing
    * only.
    */
  def dirBytes(spark: SparkSession, dir: String): Long =
    parquetFiles(spark, dir).map(_.getLen).sum

  private def targetPartitions(spark: SparkSession, inDir: String,
      targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    math.max(1, math.ceil(dirBytes(spark, inDir).toDouble / targetFileBytes).toInt)
  }

  /** Per-partition-value byte totals from the listing: relative partition
    * directory ("p=v" or "p=v/q=w") -> bytes. Directory names are Hive's
    * escaped string form of the values.
    */
  private[graft] def partitionBytes(
      spark: SparkSession, inDir: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(inDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootStr = fs.makeQualified(root).toString
    parquetFiles(spark, inDir)
      .groupBy(f => f.getPath.getParent.toString
        .stripPrefix(rootStr).stripPrefix("/"))
      .map { case (rel, fsz) => rel -> fsz.map(_.getLen).sum }
  }

  /** Rewrite `inDir` to `outDir` as ~`targetFileBytes`-sized files
    * (round-robin; no ordering guarantee). Returns the compacted frame's
    * reader.
    *
    * Partitioned tables: pass the table's partition columns as
    * `partitionCols` to KEEP the directory layout (read at the table
    * ROOT so Spark materializes the partition columns, compact per
    * partition). Each partition value gets ceil(partitionBytes /
    * targetFileBytes) write tasks (a bounded salt on the shuffle key,
    * sized from the per-directory listing) — so a skewed partition is
    * rewritten by many tasks into many target-size files instead of one
    * task producing one arbitrarily large file. Rows whose formatted
    * partition value doesn't match a listed directory (exotic characters
    * under Hive path escaping) fall back to salt 1 — correct output,
    * single file for that value.
    *
    * Calling this with `Nil` on a partitioned root flattens the layout
    * (partition values become plain columns — data preserved, pruning
    * lost), and pointing it at a single LEAF directory drops the
    * partition column entirely (its value lives only in the directory
    * name).
    */
  def rewrite(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long, partitionCols: Seq[String] = Nil): DataFrame = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val df = Tables.parquet(spark, inDir)
    if (partitionCols.isEmpty) {
      val n = targetPartitions(spark, inDir, targetFileBytes)
      df.repartition(n).write.mode("overwrite").parquet(outDir)
    } else {
      import spark.implicits._
      val salts = partitionBytes(spark, inDir).toSeq.map { case (rel, bytes) =>
        rel -> math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong)
      }
      val saltDf = salts.toDF("__pv", "__salts")
      val n = math.max(1L, salts.map(_._2).sum).min(Int.MaxValue.toLong).toInt
      // Rebuild each row's relative partition dir to join the salt counts;
      // the salt spreads rows of one value across its task budget.
      val pv = concat_ws("/", partitionCols.map(c =>
        concat_ws("=", lit(c), col(c).cast("string"))): _*)
      val dataCols = df.columns.map(col)
      df.withColumn("__pv", pv)
        .join(broadcast(saltDf), Seq("__pv"), "left")
        .withColumn("__salt",
          pmod(xxhash64(struct(dataCols.toSeq: _*)), coalesce(col("__salts"), lit(1L))))
        .repartition(n, partitionCols.map(col) :+ col("__salt"): _*)
        .select(dataCols.toSeq: _*)
        .write.mode("overwrite").partitionBy(partitionCols: _*).parquet(outDir)
    }
    Tables.parquet(spark, outDir)
  }

  /** Same pass, but range-partitioned and sorted by `sortCols` so the
    * compacted files also carry min/max-prunable clustering.
    */
  def rewriteSorted(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long, sortCols: Seq[String]): DataFrame = {
    val n = targetPartitions(spark, inDir, targetFileBytes)
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    Tables.parquet(spark, inDir)
      .repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(outDir)
    Tables.parquet(spark, outDir)
  }
}
