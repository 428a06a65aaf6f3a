package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: the no-fork plugin path
  * (`withExtensions(new GraftExtensions)` on a session builder, or
  * `spark.sql.extensions=graft.engine.GraftExtensions`) registering every
  * function of [[GraftFunctions.table]] and the as-of planner strategy and
  * rule with every session built from that builder.
  *
  * This is the registry design the reference sketched and never shipped
  * (name-keyed function nodes with no registry,
  * /root/reference/src/planner/logicalplan.rs:64-80). Sessions not built
  * with extensions can still call GraftFunctions.register for the same
  * effect at runtime. The size rule is not injected here: an injected
  * optimizer rule runs in another batch than one added at runtime, so
  * both paths reach it through GraftFunctions.installPlanner.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
