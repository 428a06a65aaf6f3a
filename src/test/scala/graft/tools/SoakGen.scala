package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 soak-data generator: scales the sf0.1 testdata ~10x by key-shifted
  * replication of the FACT tables (lineitem, orders, events, documents,
  * embeddings), keeping dimensions fixed — the realistic scale-up shape
  * (facts grow, dims don't). Copy i shifts every key family by
  * i * 10^7 so keys stay disjoint and join relationships inside a copy
  * stay intact; document texts get a per-copy prefix token (so cross-copy
  * docs are near- but not exact duplicates — a bounded near-dup cluster
  * of size `copies` per source doc, which exercises cluster resolution
  * without going quadratic), and embeddings get a tiny deterministic
  * per-copy perturbation on the first component.
  *
  * Dev tool for the BASELINE.md heavy-tail soak — not part of the library
  * surface. Usage: Test/runMain graft.SoakGen [srcDir dstDir copies [mutate]]
  *
  * `mutate` mode (round 11, for the 100x point-check): the per-copy
  * copytag prefix makes cross-copy docs NEAR-DUPS (j ~ 0.96), so pair
  * counts grow QUADRATICALLY in `copies` — fine at 10 copies (45
  * pairs/clique), workload-distorting at 100 (4950/clique: the
  * generator, not the engine, would dominate the scaling ratio).
  * `mutate` instead applies a per-copy vowel substitution to the text:
  * every token changes, so cross-copy Jaccard ~ 0, while within-copy
  * near-dup structure is preserved exactly (both members of a pair get
  * the same transform) — pair counts scale LINEARLY in copies, which is
  * what a scaling measurement needs. (Mappings repeat every 26 copies,
  * re-introducing bounded cliques of ~copies/26 — negligible.)
  */
object SoakGen {
  private val KeyStride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val mutate = args.length > 3 && args(3) == "mutate"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[soakgen] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }
    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit =
      write((0 until copies).map(i => shift(read(name), i)).reduce(_ unionByName _), name)

    // dimensions: unchanged
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(read(n), n))

    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride))
    }
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * KeyStride))
        .withColumn("user_id", col("user_id") + lit(i * KeyStride))
    }
    replicate("documents") { (df, i) =>
      val txt =
        if (i == 0) col("text")
        else if (mutate) {
          val abc = "abcdefghijklmnopqrstuvwxyz"
          val repl = (0 until 5).map(v => abc((i * 5 + v * 3 + 1) % 26)).mkString
          translate(col("text"), "aeiou", repl)
        } else concat(lit(s"copytag$i "), col("text"))
      // n_chars from the UPDATED text column, not by re-evaluating txt —
      // txt's col("text") would resolve against the already-prefixed
      // text and count the copytag prefix twice (latent since round 10;
      // the mutate branch was immune only because translate() preserves
      // length)
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
