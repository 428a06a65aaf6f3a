package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim: Spark 4 hides the Expression<->Column bridge behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`). Custom
  * Catalyst expressions still need it to surface as `Column`s, so this
  * one-file package sits under org.apache.spark.sql purely for access — the
  * standard pattern for Spark extension libraries. No Spark behavior is
  * modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Sort-direction probe: in Spark 4 a `col.desc` Column wraps the
  * api-module `org.apache.spark.sql.internal.SortOrder` ColumnNode (NOT a
  * Catalyst SortOrder — `ColumnBridge.expression` hands back an opaque
  * `ColumnNodeExpression`), and `Column.node` is private[sql]. Operators
  * that must honor the caller's sort direction (e.g. GlobalRank's chunk
  * offset accumulation) read it through here.
  */
object SortOrderBridge {
  import org.apache.spark.sql.internal.{SortOrder => NodeSortOrder}
  def isDescending(c: Column): Boolean = c.node match {
    case so: NodeSortOrder => so.sortDirection == NodeSortOrder.Descending
    case _ => false
  }
}

/** Listener-bus drain: QueryExecutionListener callbacks are delivered on
  * the ASYNC ExecutionListenerBus, so a reader summing audit results
  * right after its last action can race the delivery and under-count.
  * LiveListenerBus.waitUntilEmpty is private[spark]; exposed here for the
  * bench's lint gate (same access-only pattern as the other bridges).
  */
object ListenerBusBridge {
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** State-store quiesce: after a streaming query stops, its RocksDB
  * providers stay registered in StateStore's loadedProviders map and the
  * background maintenance thread keeps running snapshot/cleanup cycles
  * against checkpoint dirs the stopped query has already deleted — async
  * ERROR spew (RocksDB MANIFEST verification failures) that can land
  * arbitrarily late, even after a process's final output line.
  * StateStore.stop() unloads every provider and stops the maintenance
  * task synchronously; mains that print a machine-parsed artifact call
  * this BEFORE printing so nothing streaming-related can log after it.
  * Access-only shim (the StateStore object is sql-internal), same
  * pattern as the other bridges here.
  */
object StateStoreBridge {
  def stopAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}

/** Same access story for constructing a DataFrame from a custom logical
  * plan node (Dataset.ofRows is private[sql] in Spark 4).
  */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Parquet schema from file footers, read on the driver. Spark's own
  * inference (`ParquetFileFormat.mergeSchemasInParallel`) reads the same
  * footers inside a Spark job; this is its per-file body run in the
  * calling thread: the footer without row groups, converted by a
  * converter built from the same session confs, merged with the same
  * case sensitivity, failing with the same errors. Which files to touch
  * is the caller's choice ([[graft.Tables.parquet]]). Access-only, like
  * the other bridges here.
  */
object ParquetFooterBridge {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.SparkException
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.errors.QueryExecutionErrors
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** Spark's listing filter: a file or directory with this name is not
    * part of a file-source table (`_`/`.` names other than the parquet
    * summary files and `k=v` partition dirs, in-flight `._COPYING_`).
    */
  def hiddenName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** The merged schema of `files`' footers, or None when none could be
    * read (no files, or every one corrupt under ignoreCorruptFiles).
    */
  def schema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footers = files.flatMap { f =>
      // the footer reader throws RuntimeException, not IOException, on a
      // file it cannot parse
      try Some(new Footer(f.getPath,
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)))
      catch {
        case _: RuntimeException if conf.ignoreCorruptFiles => None
        case e: RuntimeException => throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
      }
    }
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).reduceOption { (a, b) =>
      try a.merge(b, conf.caseSensitiveAnalysis)
      catch { case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(a, b, e) }
    }
  }
}

/** Spark's codegen counters for this JVM: the classes its `CodeGenerator`
  * has compiled (each miss of its class cache) and the time it spent
  * compiling them. `CodegenMetrics` is private[spark]. The compile time
  * is read from `CodeGenerator` only once something has compiled, so a
  * read never loads it (and sizes its cache) early. Access-only, like
  * the other bridges here.
  */
object CodegenBridge {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def compileMs: Double =
    if (compiles == 0) 0.0
    else org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}
