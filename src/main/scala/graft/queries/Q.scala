package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark-side program plus (when SQL-expressible)
  * the ANSI-SQL oracle the driver runs in DuckDB over the same parquet
  * tables. Column names/aliases MUST match between the two — the driver's
  * compare sorts columns by name before hashing values.
  *
  * Determinism rules (FIXTURES.md §5): every oracle-matched query ends in an
  * ORDER BY with a unique tie-break; float aggregations go through exact
  * integer arithmetic (integral doubles, or cents via round(x*100)) so
  * summation order cannot perturb the hash.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

/** Exact-money canonicalization shared by every oracle-matched query that
  * aggregates a 2-decimal price column: integer cents, so summation order
  * cannot perturb the hash (FIXTURES.md §5). ONE definition — the
  * rounding rule must stay identical across all query surfaces or their
  * oracle hashes diverge.
  */
private[queries] object Money {
  def cents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.round(c * 100, 0).cast("long")
}

/** A frame cached for the span of one query build. `result` reads the
  * persisted (MEMORY_AND_DISK) `frame` as often as it likes; its rows are
  * collected while the cache is warm and returned as a local relation, and
  * the cache is released before returning, on failure too. For a result
  * the driver can hold (a few rows, or one narrow row per kept document).
  */
private[queries] object Persisted {
  def collect(frame: DataFrame)(result: DataFrame => DataFrame): DataFrame = {
    val cached = frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val df = result(cached)
      df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    } finally cached.unpersist()
  }
}

/** Scratch directories for queries that exercise the write path: each
  * caller gets a per-JVM-run unique root (keyed by applicationId, so
  * concurrent runs on the same machine never race between one run's
  * write and another's read-back) that a single JVM shutdown hook
  * removes. Within one run the path is stable, so repeated invocations
  * of the same query overwrite instead of accumulating.
  */
object ScratchDirs {
  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** A unique-per-run scratch path `<tmp>/graft_<tag>_<appId-hash>`,
    * scheduled for deletion at JVM exit.
    */
  def forRun(spark: SparkSession, tag: String): String = {
    val appId = spark.sparkContext.applicationId
    val dir = sys.props("java.io.tmpdir") +
      s"/graft_${tag}_${java.lang.Integer.toHexString(appId.hashCode)}"
    if (registered.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRecursively(new java.io.File(dir))))
    }
    dir
  }
}
