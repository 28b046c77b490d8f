package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** One timed interval at a layer boundary. Spans of one op share `op`;
  * `parent` is the id of the enclosing span (-1 for the op span itself). */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. When
  * disabled, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(op, id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Task-level totals of the jobs one op ran. */
final case class ExecCounts(jobs: Int, stages: Int, tasks: Int,
    taskBusyS: Double, taskCpuS: Double, schedDelayS: Double, skew: Double,
    shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, peakMemB: Long,
    failedTasks: Int)

private final case class Task(stage: Int, runMs: Long, cpuNs: Long,
    launch: Long, shuffleR: Long, shuffleW: Long, spill: Long, peak: Long,
    ok: Boolean)

/** Records job, stage and task events from Spark's listener bus. Events
  * arrive asynchronously, so they are attributed to ops afterwards, by
  * job submission time against each op's wall interval: the benchmark's
  * client runs one op at a time. */
final class ExecListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[(Int, Long, Seq[Int])]
  private val stageSubmit = scala.collection.mutable.Map.empty[Int, Long]
  private val tasks = ArrayBuffer.empty[Task]
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val ok = e.reason == Success
    tasks += (if (m == null) Task(e.stageId, 0, 0, e.taskInfo.launchTime, 0, 0, 0, 0, ok)
      else Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        e.taskInfo.launchTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory, ok))
  }

  /** Blocks until every event posted before this call is delivered: runs
    * a marker job and waits for its end event, which the bus delivers
    * after everything queued ahead of it. */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.parallelize(Seq(1), 1).count()
    val marker = synchronized(jobs.map(_._1).maxOption.getOrElse(-1))
    val deadline = System.nanoTime() + 30e9.toLong
    while (lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Totals of the jobs submitted within [fromMs, toMs]. */
  def counts(fromMs: Long, toMs: Long): ExecCounts = synchronized {
    val js = jobs.filter { case (_, t, _) => t >= fromMs && t <= toMs }
    val stageIds = js.flatMap(_._3).toSet
    val ts = tasks.filter(t => stageIds(t.stage))
    val byStage = ts.groupBy(_.stage)
    val skew = byStage.values.map { st =>
      val run = st.map(_.runMs).sorted
      val med = run(run.size / 2).max(1L)
      run.last.toDouble / med
    }.maxOption.getOrElse(1.0)
    val delay = ts.map(t => (t.launch - stageSubmit.getOrElse(t.stage, t.launch)).max(0L)).sum
    ExecCounts(js.size, byStage.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9, delay / 1e3, skew,
      ts.map(_.shuffleR).sum, ts.map(_.shuffleW).sum, ts.map(_.spill).sum,
      ts.map(_.peak).maxOption.getOrElse(0L), ts.count(!_.ok))
  }
}

object Plans {
  /** Exchange nodes in the final (post-AQE) physical plan, subqueries
    * included; a reused exchange is not counted again. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case other =>
      (if (other.isInstanceOf[Exchange]) 1 else 0) +
        other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
