package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Filter, HintInfo, Join, JoinHint, LocalRelation, LogicalPlan, Project, RebalancePartitions, Repartition, RepartitionOperation, SHUFFLE_HASH, Sort, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.sources.MemoryPlan

/** Size-aware execution: a batch query whose inputs are small runs as one
  * partition, with no exchange.
  *
  * The rule fires on a batch plan whose leaves are all file scans, local
  * relations or reads of a streaming query's memory sink, and whose summed
  * leaf `stats.sizeInBytes` (file lengths, or rows held on the driver,
  * known without a job) is under `thresholdBytes`. It then
  * gives every operator that requires a distribution a one-partition
  * input, so `EnsureRequirements` inserts no exchange and AQE plans no
  * query stage:
  *  - an aggregate, a window (or its group limit) or a global sort reads
  *    its child through `Repartition(1, shuffle = false)` (a
  *    `CoalesceExec`, output `SinglePartition`), unless the child already
  *    is one partition;
  *  - each side of an equi-join (and of the as-of join) reads through
  *    [[OnePartition]], one partition declared hash-clustered on that
  *    side's keys. `SinglePartition` would not do here: for a two-sided
  *    requirement Spark keeps a single-partition side only while its
  *    estimated size is under `spark.sql.maxSinglePartitionBytes`, and the
  *    estimate of a join's output is the product of its inputs;
  *  - an un-hinted equi-join is hinted as a shuffled-hash join: both sides
  *    are one partition already, while a broadcast costs a job of its own;
  *  - an un-hinted inner join with no equi-key broadcasts its smaller side
  *    (a nested loop) while auto-broadcast is on. Planned from estimates,
  *    which for a join's output multiply, it would otherwise become a
  *    cartesian product, the shape AQE replaces with that broadcast once a
  *    stage has run; below the threshold no stage runs.
  *
  * Every other plan comes back unchanged: streaming plans, plans with any
  * other leaf (a `Range`, a checkpointed `LogicalRDD`, a cached relation,
  * a CTE reference) and plans carrying a repartition of the caller's
  * (e.g. [[graft.Tables.tFan]]'s fan-out), other than a `coalesce(1)`.
  *
  * A small query otherwise pays the distributed machinery per stage (a
  * job, a task per partition, an AQE re-plan) for a few hundred KB of
  * input. The choice is made per query from its own inputs, not by one
  * session-wide setting that would also starve the heavy queries.
  *
  * Runs in the optimizer's user-provided batch, after operator
  * optimization; it is idempotent, as that fixed-point batch needs.
  * Installed, with [[OnePartitionStrategy]], by
  * [[graft.functions.GraftFunctions.installPlanner]].
  */
case class SmallInput(thresholdBytes: Long) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val leaves = plan.collectLeaves()
    if (plan.isStreaming || !leaves.forall(scanLeaf) || userRepartition(plan)
        || leaves.map(_.stats.sizeInBytes).sum >= thresholdBytes) plan
    else single(plan)
  }

  private def scanLeaf(leaf: LogicalPlan): Boolean = leaf match {
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
    case _: LocalRelation | _: MemoryPlan => true
    case _ => false
  }

  private def userRepartition(plan: LogicalPlan): Boolean = plan.exists {
    case Repartition(1, false, _) => false
    case _: RepartitionOperation | _: RebalancePartitions => true
    case _ => false
  }

  private def single(plan: LogicalPlan): LogicalPlan = plan match {
    case j: Join => ExtractEquiJoinKeys.unapply(j) match {
      case Some((_, leftKeys, rightKeys, _, _, _, _, _)) =>
        j.copy(left = side(leftKeys, single(j.left)), right = side(rightKeys, single(j.right)),
          hint = if (j.hint == JoinHint.NONE) SmallInput.shuffleHash else j.hint)
      case None if j.joinType.isInstanceOf[InnerLike] && j.hint == JoinHint.NONE
          && conf.autoBroadcastJoinThreshold >= 0 =>
        val broadcast = Some(HintInfo(strategy = Some(BROADCAST)))
        j.copy(left = single(j.left), right = single(j.right),
          hint = if (j.left.stats.sizeInBytes < j.right.stats.sizeInBytes) JoinHint(broadcast, None)
            else JoinHint(None, broadcast))
      case None => j.withNewChildren(j.children.map(single))
    }
    case a: AsOfJoinNode =>
      a.copy(left = side(Seq(a.leftKey), single(a.left)),
        right = side(Seq(a.rightKey), single(a.right)))
    case p @ (_: Aggregate | _: Window | _: WindowGroupLimit | Sort(_, true, _, _)) =>
      p.withNewChildren(p.children.map { c =>
        val s = single(c)
        if (onePartition(s)) s else Repartition(1, shuffle = false, s)
      })
    case other => other.withNewChildren(other.children.map(single))
  }

  private def side(keys: Seq[Expression], plan: LogicalPlan): LogicalPlan = plan match {
    case o: OnePartition => o
    case _ => OnePartition(keys, plan)
  }

  /** `plan`'s physical output is `SinglePartition`. */
  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case Repartition(1, false, _) | _: Aggregate | _: Window | _: WindowGroupLimit
        | Sort(_, true, _, _) => true
    case Project(_, child) => onePartition(child)
    case Filter(_, child) => onePartition(child)
    case _ => false
  }
}

object SmallInput {

  /** Summed leaf bytes under which a query runs as one partition.
    *
    * Measured with `graft.Bench` at sf0.1 (min-of-2 per query, one run per
    * side, local[8] and local[32] on 4 cores), logging each plan's leaf
    * sum. At 16 MB the rule covered 268 of 297 queries and the board's
    * sum of minima fell 266 -> 247 s (c8) and 305 -> 246 s (c32), but 25
    * queries ran slower than noise allows at c8 (TPC-H over the 10.8 MB
    * lineitem, cube/rollup, the near-dup builds): one core loses to eight
    * on a few MB of rows that need real per-row work. By each plan's leaf
    * sum, 10 of those stay covered at 4 MB and 6 at 1 MB (e.g.
    * `q_kmeans_step` over sf0.1's 780 KB of embeddings, +31%); at 512 KB
    * none, at either core count. 512 KB still covers every `board_mix`
    * query (the largest, `q_except`, reads 315 KB at sf0.01) and, at
    * sf0.1, the catalog-sized tables; documents (581 KB) and embeddings
    * (780 KB) keep their parallel plans there.
    */
  val ThresholdBytes: Long = 512L << 10

  /** The rule every graft session runs. */
  val rule: SmallInput = SmallInput(ThresholdBytes)

  private val shuffleHash = {
    val side = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))
    JoinHint(side, side)
  }
}

/** `child` as one partition, declared hash-clustered on `keys`: with one
  * partition every row with equal keys is in the same partition, so the
  * declaration is true for any keys. [[SmallInput]] puts one under each
  * side of a join.
  */
case class OnePartition(keys: Seq[Expression], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

case class OnePartitionExec(keys: Seq[Expression], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = HashPartitioning(keys, 1)
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().coalesce(1, shuffle = false)
  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

/** Plans [[OnePartition]] as [[OnePartitionExec]]. */
object OnePartitionStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OnePartition(keys, child) => OnePartitionExec(keys, planLater(child)) :: Nil
    case _ => Nil
  }
}
