package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: the custom-operator path (logical node -> planner
  * strategy -> physical merge) for a whole-operator semantic Spark SQL
  * lacks. The reference has no joins at all (no join variant in its
  * algebra, /root/reference/src/planner/logicalplan.rs:207-273); this is
  * north-star surface implemented the way Spark's own joins are.
  *
  * Semantics: backward inclusive — each left row picks the latest right row
  * with rightTs <= leftTs for the same key (left outer: no match -> nulls).
  * Identical to [[graft.operators.AsOfJoin.backward]], which serves as the
  * independent reference implementation in tests and shares the DuckDB
  * ASOF JOIN oracle.
  *
  * Scale shape: requiredChildDistribution/Ordering make EnsureRequirements
  * insert one hash exchange + sort per side (exactly a sort-merge join's
  * cost); the merge itself is a single forward pass per partition with O(1)
  * state — no row buffering, no nested loop.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightPayload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  /** Null-safe wrapper over the interpreted ordering: nulls first, null ==
    * null. This is exactly the window path's comparison semantics (Window
    * partitionBy groups nulls as one key; Ascending sorts nulls first), so
    * the two as-of implementations stay identical on null keys/timestamps
    * instead of this one crashing (getInterpretedOrdering NPEs on null).
    */
  private def nullSafe(ord: Ordering[Any]): Ordering[Any] = new Ordering[Any] {
    override def compare(x: Any, y: Any): Int =
      if (x == null && y == null) 0
      else if (x == null) -1
      else if (y == null) 1
      else ord.compare(x, y)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = nullSafe(TypeUtils.getInterpretedOrdering(leftKey.dataType))
    val tsOrd = nullSafe(TypeUtils.getInterpretedOrdering(leftTs.dataType))
    val payloadSchema = rightPayload
    val leftOutput = left.output
    val rightOutput = right.output
    val lk = BindReferences.bindReference(leftKey: Expression, leftOutput)
    val lt = BindReferences.bindReference(leftTs: Expression, leftOutput)
    val rk = BindReferences.bindReference(rightKey: Expression, rightOutput)
    val rt = BindReferences.bindReference(rightTs: Expression, rightOutput)

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadSchema.map(a => a: Expression), rightOutput)
      // The output projection must treat payload fields as nullable even
      // when the right child's attributes are not: an unmatched left row
      // carries nullPayload, and a non-nullable BoundReference would read
      // garbage (0/false) instead of null.
      val payloadOut = payloadSchema.map(_.withNullability(true))
      val resultProj = UnsafeProjection.create(
        (leftOutput ++ payloadOut).map(a => a: Expression),
        leftOutput ++ payloadOut)
      val nullPayload = InternalRow.fromSeq(Seq.fill(payloadSchema.size)(null))
      val joined = new JoinedRow

      // One forward pass, O(1) state: the latest matching payload so far.
      // lastKey may legitimately be null (null-safe: null groups with
      // null), so "have we matched" is tracked separately.
      var rRow: InternalRow = if (rIter.hasNext) rIter.next() else null
      var lastKey: Any = null
      var hasLast: Boolean = false
      var lastPayload: InternalRow = null

      lIter.map { lRow =>
        val lkey = lk.eval(lRow)
        val lts = lt.eval(lRow)
        var advancing = true
        while (advancing && rRow != null) {
          val rkey = rk.eval(rRow)
          val kc = keyOrd.compare(rkey, lkey)
          if (kc < 0) {
            rRow = if (rIter.hasNext) rIter.next() else null
          } else if (kc == 0 && tsOrd.compare(rt.eval(rRow), lts) <= 0) {
            // sorted iterators reuse row objects: copy any buffer-backed
            // key (e.g. UTF8String) before the row is overwritten
            lastKey = rkey match {
              case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
              case other => other
            }
            hasLast = true
            lastPayload = payloadProj(rRow).copy()
            rRow = if (rIter.hasNext) rIter.next() else null
          } else {
            advancing = false
          }
        }
        val payload =
          if (hasLast && keyOrd.compare(lastKey, lkey) == 0) lastPayload
          else nullPayload
        resultProj(joined(lRow, payload))
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** Planner strategy lowering [[AsOfJoinNode]] to [[AsOfJoinExec]] —
  * injected by [[graft.engine.GraftExtensions]], or added once by
  * [[graft.functions.GraftFunctions.installPlanner]] on other sessions.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, payload) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, payload) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: push a Filter through [[AsOfJoinNode]] when it touches
  * only left-side columns. Catalyst's own PushDownPredicates cannot see
  * through an unknown node, so without this rule a filter above the as-of
  * join scans both sides in full. The rewrite is sound because the as-of
  * join is row-preserving on the left (each left row yields exactly one
  * output row, its left columns untouched; the carried payload depends
  * only on that row's own key/timestamp).
  *
  * Registered via extraOptimizations / injectOptimizerRule
  * ([[graft.engine.GraftExtensions]]).
  */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoinNode)
        if cond.references.subsetOf(aj.left.outputSet) =>
      aj.copy(left = Filter(cond, aj.left))
  }
}
