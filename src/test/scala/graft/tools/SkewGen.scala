package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial-skew soak generator: the sf1-scale replica [[SoakGen]]
  * builds, with three pathologies injected that uniform key-shifted
  * replication can never produce — the round-11 probe of the ONE scale
  * dimension the heavy-tail soaks had not exercised:
  *
  *   - lineitem: ~20% of rows remapped to ONE hot l_orderkey (an
  *     existing copy-0 order, so join relationships stay valid) —
  *     the Zipf-head fact-table key that pins a reducer in any
  *     shuffle join/agg on the key;
  *   - orders: ~20% of rows remapped to ONE hot o_custkey — the same
  *     pathology on the orders⋈customer path (q_join_inner,
  *     q_skew_join);
  *   - events: the lexicographically-first event_type inflated to ~90%
  *     of rows — the hot window-partition case for per-type rolling
  *     monitors;
  *   - documents: 2% of docs (pre-shift doc_id % 50 == 7, ~1000 at 10
  *     copies) replaced by ONE fixed boilerplate text — every MinHash
  *     band collides for all of them, a single LSH bucket with ~500k
  *     candidate pairs (the production "shared boilerplate" hot bucket).
  *
  * All remaps are deterministic (xxhash64 of stable keys), so reruns
  * produce the identical corpus. Dev tool, not library surface.
  * Usage: Test/runMain graft.SkewGen [srcDir dstDir copies]
  */
object SkewGen {
  private val KeyStride = 10000000L

  /** ~200 distinct tokens => ~196 distinct 5-shingles, enough that the
    * MinHash signature is entirely determined by the shared text.
    */
  val Boilerplate: String = (0 until 200).map(i => s"boiler$i").mkString(" ")

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_skew1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[skewgen] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      write((0 until copies).map(i => shift(read(name), i)).reduce(_ unionByName _), name)

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(read(n), n))

    val hotCust = read("customer").agg(min("c_custkey")).collect()(0).getLong(0)
    val hotOrder = read("orders").agg(min("o_orderkey")).collect()(0).getLong(0)
    val hotType = read("events").agg(min("event_type")).collect()(0).getString(0)
    println(s"[skewgen] hotCust=$hotCust hotOrder=$hotOrder hotType=$hotType")

    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
        .withColumn("o_custkey",
          when(pmod(xxhash64(col("o_orderkey")), lit(5)) === 0, lit(hotCust))
            .otherwise(col("o_custkey")))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey") + lit(i * KeyStride),
            col("l_linenumber")), lit(5)) === 0, lit(hotOrder))
          .otherwise(col("l_orderkey") + lit(i * KeyStride)))
    }
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * KeyStride))
        .withColumn("user_id", col("user_id") + lit(i * KeyStride))
        .withColumn("event_type",
          when(pmod(xxhash64(col("event_id")), lit(10)) =!= 0, lit(hotType))
            .otherwise(col("event_type")))
    }
    replicate("documents") { (df, i) =>
      val txt = when(pmod(col("doc_id"), lit(50)) === 7, lit(Boilerplate))
        .otherwise(if (i == 0) col("text")
          else concat(lit(s"copytag$i "), col("text")))
      // n_chars from the UPDATED text column, not by re-evaluating txt —
      // txt's col("text") would resolve against the already-prefixed
      // text and count the copytag prefix twice
      df.withColumn("doc_id", col("doc_id") + lit(i * KeyStride))
        .withColumn("text", txt)
        .withColumn("n_chars",
          length(col("text")).cast(df.schema("n_chars").dataType))
    }
    replicate("embeddings") { (df, i) =>
      val perturbed = transform(col("embedding"),
        (x, idx) => when(idx === 0, x * lit(1.0f + i * 1e-3f)).otherwise(x))
      df.withColumn("vec_id", col("vec_id") + lit(i * KeyStride))
        .withColumn("embedding", perturbed.cast(df.schema("embedding").dataType))
    }
    spark.stop()
  }
}
