package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator Spark SQL lacks natively.
  *
  * Implemented by the union-tag trick rather than a custom SparkPlan: tag
  * both sides, union, and carry the right side's payload forward with
  * last(ignoreNulls) over a (key, time)-ordered window; keep left rows.
  * One shuffle on the key, sort within partition — the same cost profile
  * as a sort-merge join, with none of the O(n*m) blowup a naive range-join
  * formulation (BroadcastNestedLoop) would hit at scale.
  *
  * Semantics: backward inclusive — each left row matches the latest right
  * row with rightTs <= leftTs for the same key (right sorts before left on
  * ties, so an equal-timestamp right row matches).
  *
  * Tie contract: when several right rows share the same (key, ts), the
  * pick is DETERMINISTIC — the row with the greatest xxhash64 of its
  * hashable payload columns wins (arbitrary but stable; collisions at
  * 2^-64 are the accepted residue). last() over peers that are equal on
  * every ordering key is otherwise order-UNDEFINED and the matched
  * payload would flake run-to-run (and against an ASOF oracle). The
  * hash, not the payload tuple itself, is the sort key on purpose: a
  * document-text payload as a window sort key would put the full text
  * bytes in every row's sort buffer; the hash is 8 bytes regardless.
  * Payload columns xxhash64 cannot digest (maps, unless enabled) are
  * excluded; if NO payload column is hashable, ties stay engine-ordered
  * as before.
  */
object AsOfJoin {

  /** Right-side tiebreak: xxhash64 over the hashable payload columns
    * (maps are unhashable unless spark.sql.legacy.allowHashOnMapType —
    * a map payload must not break a join that worked before ties were
    * fixed). Null on the left side (left rows never tie with right rows
    * — __side already separates them).
    */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType    => true
      case s: StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: ArrayType  => containsMap(a.elementType)
      case _             => false
    }
  }

  private def tieOf(schema: org.apache.spark.sql.types.StructType,
      payloadCols: Seq[String]) = {
    val hashable = payloadCols.filterNot(c => containsMap(schema(c).dataType))
    if (hashable.isEmpty) lit(0L)
    else when(col("__side") === 0, xxhash64(hashable.map(col): _*))
  }

  def backward(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
    val r = right
      .select((keyCol +: rightTsCol +: payloadCols).map(col): _*)
      .withColumnRenamed(rightTsCol, "__rts")
      .withColumn("__ts", col("__rts"))
      .drop("__rts")
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__tie", tieOf(r.schema, payloadCols))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(unioned) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__ts", "__side", "__tie")
  }

  /** Forward as-of: each left row matches the EARLIEST right row with
    * rightTs >= leftTs (inclusive) — the other half of pandas
    * merge_asof(direction=). Identical union-tag shape, scanned in
    * descending time order so last(ignoreNulls) carries the next right
    * row backward.
    */
  def forward(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
    val r = right
      .select((keyCol +: rightTsCol +: payloadCols).map(col): _*)
      .withColumnRenamed(rightTsCol, "__rts")
      .withColumn("__ts", col("__rts"))
      .drop("__rts")
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__tie", tieOf(r.schema, payloadCols))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__ts").desc, col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payloadCols.foldLeft(unioned) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__ts", "__side", "__tie")
  }

  /** Backward as-of with a staleness bound: matches older than
    * `toleranceSec` before the left timestamp are nulled out (pandas
    * merge_asof(tolerance=)). The match timestamp rides the same window
    * pass, so tolerance costs no extra shuffle.
    */
  def backwardTolerance(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, payloadCols: Seq[String],
      toleranceSec: Long): DataFrame = {
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
    val r = right
      .select((keyCol +: rightTsCol +: payloadCols).map(col): _*)
      .withColumnRenamed(rightTsCol, "__rts")
      .withColumn("__ts", col("__rts"))
      .drop("__rts")
      .withColumn("__mts", col("__ts"))
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__tie", tieOf(r.schema, payloadCols))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (payloadCols :+ "__mts").foldLeft(unioned) { (df, p) =>
      df.withColumn(p, last(col(p), ignoreNulls = true).over(w))
    }
    val fresh = col("__mts") >= col("__ts") - expr(s"INTERVAL $toleranceSec SECONDS")
    val bounded = payloadCols.foldLeft(carried) { (df, p) =>
      df.withColumn(p, when(fresh, col(p)))
    }
    bounded.filter(col("__side") === 1).drop("__ts", "__mts", "__side", "__tie")
  }

  /** Nearest as-of: each left row matches whichever of its backward
    * (latest ≤ ts) and forward (earliest ≥ ts) candidates is closer in
    * absolute time — pandas merge_asof(direction='nearest'), with the
    * tie fixed to BACKWARD (documented contract; a tie must not depend
    * on evaluation order). One union-tag frame, both directions carried
    * as (match-ts, payload) structs by two window passes SHARING the
    * (key)-hash shuffle (asc + desc sorts over one exchange, the scd2
    * pattern) — still no O(n·m) blowup, still one shuffle.
    */
  def nearest(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val l = left
      .withColumn("__ts", col(leftTsCol))
      .withColumn("__side", lit(1))
    val r = right
      .select((keyCol +: rightTsCol +: payloadCols).map(col): _*)
      .withColumnRenamed(rightTsCol, "__rts")
      .withColumn("__ts", col("__rts"))
      .drop("__rts")
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__r", when(col("__side") === 0,
        struct(col("__ts").as("t") +: payloadCols.map(col): _*)))
      .withColumn("__tie", tieOf(r.schema, payloadCols))
    // __tie (the payload hash), NOT __r: the carried struct may contain
    // non-hashable columns, and its full bytes must stay out of the sort
    val wb = Window.partitionBy(keyCol)
      .orderBy(col("__ts"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keyCol)
      .orderBy(col("__ts").desc, col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned
      .withColumn("__bw", last(col("__r"), ignoreNulls = true).over(wb))
      .withColumn("__fw", last(col("__r"), ignoreNulls = true).over(wf))
    val db = abs(unix_micros(col("__ts")) - unix_micros(col("__bw").getField("t")))
    val df_ = abs(unix_micros(col("__fw").getField("t")) - unix_micros(col("__ts")))
    val pick = when(col("__fw").isNull, col("__bw"))
      .when(col("__bw").isNull, col("__fw"))
      .when(db <= df_, col("__bw"))
      .otherwise(col("__fw"))
    val chosen = payloadCols.foldLeft(carried.withColumn("__pick", pick)) {
      (d, p) => d.withColumn(p, col("__pick").getField(p))
    }
    chosen.filter(col("__side") === 1)
      .drop("__ts", "__side", "__r", "__tie", "__bw", "__fw", "__pick")
  }

  /** The same semantics through the custom-operator path: a Catalyst
    * logical node ([[graft.plans.AsOfJoinNode]]) lowered by a planner
    * strategy to a merge-based physical operator. The strategy is installed
    * on the session on first use (GraftFunctions.installPlanner).
    */
  def native(left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    graft.functions.GraftFunctions.installPlanner(spark)
    val lPlan = left.queryExecution.analyzed
    // Re-alias every right column: when both sides derive from the same
    // base DataFrame they share exprIds, and an ambiguous key attribute
    // would survive analyzer dedup still pointing at the left side. Fresh
    // aliases give the right child its own ids before the node is built.
    val rPlan = right.toDF(right.columns.toIndexedSeq: _*).queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not in ${p.output.map(_.name)}"))
    val node = graft.plans.AsOfJoinNode(lPlan, rPlan,
      attr(lPlan, keyCol), attr(rPlan, keyCol),
      attr(lPlan, leftTsCol), attr(rPlan, rightTsCol),
      payloadCols.map(attr(rPlan, _)))
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, node)
  }
}
