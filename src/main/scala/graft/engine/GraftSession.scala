package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine: the one place a SparkSession is
  * built. Bench, Verify, the REPL, the tests and the dev tools all start
  * here and set any extra conf of their own after the build.
  *
  * The reference (mura) is a single-process REPL (`src/main.rs:27-61` in
  * /root/reference) whose "session" is a fresh parser+planner per line. Our
  * session is a configured SparkSession: Catalyst supplies the
  * parse/analyze/optimize/execute lifecycle the reference only declares
  * (`README.md:10`), [[GraftExtensions]] adds our custom functions and
  * the as-of planner strategy, and
  * [[graft.functions.GraftFunctions.installPlanner]] the size rule.
  *
  * Scale notes (100 TB posture, tested at local[32]):
  *  - AQE on: runtime coalescing, skew-join splitting, join-strategy switch.
  *  - shuffle.partitions = the context's default parallelism (the core
  *    count locally); on a real cluster this is overridden per-job (or left
  *    to AQE's coalescing from a high initial).
  *  - a batch query whose file inputs sum under
  *    [[graft.plans.SmallInput.ThresholdBytes]] runs as one partition with
  *    no exchange ([[graft.plans.SmallInput]]); everything above it plans
  *    exactly as the two points above say.
  *  - session TZ pinned UTC so timestamp semantics match the DuckDB oracle.
  *  - the `file:` scheme runs on [[graft.sources.LocalFs]] (set here as
  *    `spark.hadoop.*` confs, and on the context by
  *    [[graft.functions.GraftFunctions.installPlanner]]): Hadoop's local
  *    filesystem minus the `chmod` / `ls` / `readlink` process it forks
  *    per file op without native IO. Checkpoints, state-store uploads and
  *    artifact IO on a local disk pay no fork; an hdfs or object-store
  *    path is untouched.
  */
object GraftSession {

  /** A `local[cores]` session; `cores` is anything Spark accepts inside
    * the brackets (`"*"`, `"8"`, `"4,2"` for 4 threads with 2 task tries).
    */
  def local(cores: String): SparkSession = {
    val session = SparkSession.builder()
    graft.sources.LocalFs.install(k => sys.props.getOrElse(s"spark.hadoop.$k", null),
      (k, v) => session.config(s"spark.hadoop.$k", v))
    val spark = session
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toString)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.installPlanner(spark)
    spark
  }
}
