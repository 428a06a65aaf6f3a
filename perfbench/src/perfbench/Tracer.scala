package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one operation, filled by the tracer's listeners. */
final class OpCounters {
  val n: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** Task run intervals (epoch ms), for the time no task was running. */
  val tasks: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** State-store memory of each streaming query at its last progress. */
  val lastState: mutable.Map[java.util.UUID, Long] = mutable.Map.empty

  def add(k: String, v: Double): Unit = n(k) = n(k) + v
}

/** The traced run's instruments: one `SparkListener` (jobs, stages, tasks,
  * task metrics), one `QueryExecutionListener` (Catalyst phase times from
  * each action's `QueryPlanningTracker`) and one `StreamingQueryListener`
  * (micro-batch phases and state-store metrics). All three feed the
  * counters of the operation currently running; `close()` drains the
  * listener bus and hands the finished counters back.
  *
  * Jobs are attributed to the phase of the operation (build, plan or
  * action) through the local property [[Tracer.PhaseKey]], which the
  * harness sets around each phase.
  */
final class Tracer(spark: SparkSession) {
  private var cur = new OpCounters

  private def on(f: OpCounters => Unit): Unit = synchronized(f(cur))

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on { c =>
      c.add("exec.jobs", 1)
      val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseKey)).orNull
      if (phase == "build") c.add("queries.build_jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { c =>
      c.add("exec.stages", 1)
      if (e.stageInfo.attemptNumber() > 0) c.add("exec.stages_retried", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { c =>
      val info = e.taskInfo
      c.add("exec.tasks", 1)
      if (info.failed || info.killed || e.reason != Success) c.add("exec.tasks_failed", 1)
      c.tasks += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.add("exec.task_run_ms", m.executorRunTime.toDouble)
        c.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        c.add("exec.gc_ms", m.jvmGCTime.toDouble)
        c.add("exec.task_overhead_ms", (info.duration - m.executorRunTime).max(0L).toDouble)
        c.add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("io.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("io.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("io.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = on { c =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      c.add("catalyst.analyze_ms", ms("analysis"))
      c.add("catalyst.optimize_ms", ms("optimization"))
      c.add("catalyst.plan_ms", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      on(_.add("streaming.drains", 1))
    override def onQueryProgress(e: QueryProgressEvent): Unit = on { c =>
      val p = e.progress
      c.add("streaming.batches", 1)
      p.durationMs.asScala.foreach { case (k, v) => c.add(s"streaming.${k}_ms", v.toDouble) }
      c.add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      c.add("streaming.state_rows", p.stateOperators.map(_.numRowsUpdated).sum.toDouble)
      c.lastState(p.runId) = p.stateOperators.map(_.memoryUsedBytes).sum
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  /** Drain the bus and return the counters gathered since the last call. */
  def close(): OpCounters = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    synchronized {
      val done = cur
      cur = new OpCounters
      done
    }
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  /** Length of `[from, to]` covered by none of `intervals`. */
  def uncovered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var gap = 0L
    var reach = from
    intervals.map { case (s, e) => (s.max(from), e.min(to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (s > reach) gap += s - reach
        reach = reach.max(e)
      }
    gap + (to - reach).max(0L)
  }
}
