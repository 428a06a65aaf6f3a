package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Optional 3rd+ args: restrict to named queries (dev iteration only;
    // the driver always passes exactly two).
    val only: Set[String] = rest.toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.engine.GraftSession.local(cpus)
    // Pin the refresh-trigger thresholds to their registered-oracle
    // defaults: the q_*_refresh oracles price the forced-retrain path,
    // and a session that happens to carry a non-default threshold would
    // serve the frozen store and report a FALSE mismatch (ADVICE r18).
    spark.conf.set("spark.graft.ann.refreshFactorMicro", "0")
    spark.conf.set("spark.graft.bpe.refreshCptMicro", Long.MaxValue.toString)
    spark.conf.set("spark.graft.bpe.refreshPsiMicro", "-1")
    spark.conf.set("spark.graft.lr.refreshPsiMicro", "-1")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries that persist() intermediates must not pin cached RDDs for
      // the rest of the dump.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Quiesce streaming state stores before stopping: the q_stream_*
    // dumps leave RocksDB providers loaded, and their background
    // maintenance otherwise races session teardown (late ERROR spew
    // against already-deleted checkpoint dirs — see StateStoreBridge).
    org.apache.spark.sql.graft.StateStoreBridge.stopAll()
    spark.stop()
  }
}
