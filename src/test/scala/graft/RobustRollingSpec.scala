package graft

import org.apache.spark.sql.functions._
import graft.operators.Robust

class RobustRollingSpec extends SparkTestBase {

  test("rollingZScore scores against the previous-k frame only") {
    import spark.implicits._
    val df = Seq(
      ("g", 1L, 0L), ("g", 2L, 2L), ("g", 3L, 0L), ("g", 4L, 2L), ("g", 5L, 20L),
      ("h", 1L, 5L) // lone row in its own group
    ).toDF("grp", "seq", "v")
    val out = Robust.rollingZScore(df, "grp", "seq", "seq", col("v"), k = 3)
      .select("grp", "seq", "n_prev", "z")
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(("g", 1L))._1 == 0 && out(("g", 1L))._2.isEmpty)
    assert(out(("g", 2L))._1 == 1 && out(("g", 2L))._2.isEmpty) // n_prev < 2
    assert(out(("h", 1L))._2.isEmpty)
    // row 5: prev frame [2,0,2] -> mean 4/3, pop-var 8/9
    val mean = 4.0 / 3.0
    val std = math.sqrt(8.0 / 9.0)
    val z5 = out(("g", 5L))._2.get
    assert(out(("g", 5L))._1 == 3)
    assert(math.abs(z5 - (20.0 - mean) / std) < 1e-12)
  }

  test("rollingZScore: zero-variance frame yields null, not infinity") {
    import spark.implicits._
    val df = Seq(("g", 1L, 5L), ("g", 2L, 5L), ("g", 3L, 5L), ("g", 4L, 99L))
      .toDF("grp", "seq", "v")
    val z4 = Robust.rollingZScore(df, "grp", "seq", "seq", col("v"), k = 3)
      .filter(col("seq") === 4).select("z").collect()(0)
    assert(z4.isNullAt(0)) // prev frame constant -> std 0 -> null
  }

  test("prefix-difference frame == direct frame bit-for-bit (nulls, small & large k)") {
    import spark.implicits._
    // deterministic pseudo-random points with planted nulls, 3 keys
    val rows = (0 until 800).map { i =>
      val key = s"k${i % 3}"
      val v: Option[Long] =
        if (i % 17 == 0) None
        else Some(((i * 2654435761L) % 1000L + 1000L) % 1000L)
      (key, i.toLong, i.toLong, v)
    }
    val df = rows.toDF("grp", "seq", "tie", "v")
    for (k <- Seq(2, 5, 64, 300)) {
      def dump(d: org.apache.spark.sql.DataFrame) =
        d.select("grp", "seq", "n_prev", "z").collect().map { r =>
          (r.getString(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(3)) None
            // compare raw bits: "bit-for-bit" is the contract
            else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))
        }.toSet
      val direct = dump(Robust.rollingZDirect(df, "grp", "seq", "tie", col("v"), k))
      val prefix = dump(Robust.rollingZPrefix(df, "grp", "seq", "tie", col("v"), k))
      assert(direct == prefix, s"k=$k diverged: ${(direct -- prefix).take(3)}")
    }
    // the public API dispatches on k but both sides answer identically,
    // so the crossover is unobservable
    val viaApi = Robust.rollingZScore(df, "grp", "seq", "tie", col("v"), 300)
      .agg(sum("n_prev"), sum(abs(col("z")))).collect()(0)
    val viaDirect = Robust.rollingZDirect(df, "grp", "seq", "tie", col("v"), 300)
      .agg(sum("n_prev"), sum(abs(col("z")))).collect()(0)
    assert(viaApi.getLong(0) == viaDirect.getLong(0) &&
      viaApi.getDouble(1) == viaDirect.getDouble(1))
  }

  test("chunked frame == global frame bit-for-bit, with more window partitions") {
    import spark.implicits._
    // 2 keys x 600 rows with planted nulls — the low-cardinality monitor
    // shape the chunked form exists for (sf1 tail: 5 event types = 5
    // window partitions no matter how many executors). Chunk by seq/100:
    // monotone in the order column, every chunk >= k rows.
    val rows = (0 until 1200).map { i =>
      val key = s"k${i % 2}"
      val v: Option[Long] =
        if (i % 23 == 0) None else Some((i * 2654435761L % 997L + 997L) % 997L)
      (key, i.toLong, i.toLong, v)
    }
    val df = rows.toDF("grp", "seq", "tie", "v")
    def dump(d: org.apache.spark.sql.DataFrame) =
      d.select("grp", "seq", "n_prev", "z").collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None
          else Some(java.lang.Double.doubleToLongBits(r.getDouble(3))))
      }.toSet
    for (k <- Seq(3, 40)) {
      val global = dump(Robust.rollingZScore(df, "grp", "seq", "tie", col("v"), k))
      val chunked = dump(Robust.rollingZScoreChunked(df, "grp", "seq", "tie",
        col("v"), k, floor(col("seq") / 100)))
      assert(global == chunked,
        s"k=$k diverged: ${(global -- chunked).take(3)} / ${(chunked -- global).take(3)}")
    }
    // the point of the exercise: the window runs at keys x chunks
    // parallelism — 2 keys x 6 chunks = 12 window partitions, not 2
    val parts = Robust.rollingZScoreChunked(df, "grp", "seq", "tie",
        col("v"), 3, floor(col("seq") / 100), validate = false)
      .queryExecution.executedPlan.toString
    assert(parts.contains("__chunk"), s"expected chunked window partition spec:\n$parts")
    // starved-chunk validation: chunks of 2 rows < k=3 with successors
    val err = intercept[IllegalArgumentException] {
      Robust.rollingZScoreChunked(df, "grp", "seq", "tie", col("v"), 3,
        floor(col("seq") / 2))
    }
    assert(err.getMessage.contains("cannot"), err.getMessage)
  }

  test("prefix frame stays one shuffle: a single Window partition spec") {
    import distributed.implicits._
    val df = (0 until 100).map(i => ("a", i.toLong, i.toLong, i.toLong))
      .toDF("grp", "seq", "tie", "v")
    val plan = Robust.rollingZPrefix(df, "grp", "seq", "tie", col("v"), 1000)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 keyed exchange, got $exchanges:\n$plan")
  }
}
