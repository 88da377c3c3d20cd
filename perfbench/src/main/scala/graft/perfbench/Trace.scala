package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of one closed span. `selfS` excludes the time of child spans;
  * every count includes the work of child spans.
  */
final case class SpanStats(
    name: String,
    wallS: Double,
    selfS: Double,
    jobs: Long,
    tasks: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    driverGapS: Double,
    exchanges: Long,
    broadcastJoins: Long)

/** Executed-plan shape: shuffle exchanges and broadcast joins, counted
  * through adaptive query stages and subqueries.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
  def broadcastJoins(plan: SparkPlan): Int =
    collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.size
}

/** Spans around calls into the library's layers, with the Spark work
  * each span caused.
  *
  * One operation runs at a time, so the listener charges every event to
  * the innermost open span. The listener bus is drained at each span
  * boundary, which makes that charge exact; the drains are part of the
  * tracing overhead.
  */
final class Trace(spark: SparkSession) {
  private final class Open(val name: String, val t0: Long, val ms0: Long) {
    var jobs, tasks, shuffleBytes, spillBytes, exchanges, broadcastJoins = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var childS = 0.0
  }

  private val stack = mutable.Stack.empty[Open]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val closed = mutable.ArrayBuffer.empty[SpanStats]

  private def current: Option[Open] = stack.synchronized(stack.headOption)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = stack.synchronized {
      jobStartMs(e.jobId) = e.time
      current.foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = stack.synchronized {
      val start = jobStartMs.remove(e.jobId).getOrElse(e.time)
      current.foreach(_.jobIntervals += ((start, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stack.synchronized {
      current.foreach { s =>
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      stack.synchronized {
        current.foreach { s =>
          s.exchanges += PlanShape.exchanges(qe.executedPlan)
          s.broadcastJoins += PlanShape.broadcastJoins(qe.executedPlan)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Runs `body` as the span `name`, nested in the open span if any. */
  def span[T](name: String)(body: => T): T = {
    drain()
    val s = new Open(name, System.nanoTime(), System.currentTimeMillis())
    stack.synchronized(stack.push(s))
    try body
    finally {
      drain()
      val t1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      val wall = (t1 - s.t0) / 1e9
      stack.synchronized {
        stack.pop()
        current.foreach { p =>
          p.childS += wall
          p.jobs += s.jobs; p.tasks += s.tasks
          p.shuffleBytes += s.shuffleBytes; p.spillBytes += s.spillBytes
          p.exchanges += s.exchanges; p.broadcastJoins += s.broadcastJoins
          p.jobIntervals ++= s.jobIntervals
        }
      }
      closed += SpanStats(s.name, wall, math.max(0.0, wall - s.childS), s.jobs, s.tasks,
        s.shuffleBytes, s.spillBytes, driverGap(s.ms0, ms1, s.jobIntervals.toSeq),
        s.exchanges, s.broadcastJoins)
    }
  }

  /** Adds plan-shape counts to the open span without executing a plan. */
  def notePlan(plan: SparkPlan): Unit = stack.synchronized {
    current.foreach { s =>
      s.exchanges += PlanShape.exchanges(plan)
      s.broadcastJoins += PlanShape.broadcastJoins(plan)
    }
  }

  /** Every span closed so far, in closing order. */
  def spans: Seq[SpanStats] = closed.toSeq

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Span time, in seconds, during which no Spark job was running. */
  private def driverGap(from: Long, to: Long, jobs: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = from
    jobs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, (to - from) - covered) / 1e3
  }
}

/** Counts jobs at negligible cost, for untraced runs. */
final class JobCounter(spark: SparkSession) {
  @volatile private var n = 0L
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = n += 1
  }
  spark.sparkContext.addSparkListener(listener)

  /** Jobs started so far, once every queued event is delivered. */
  def jobs: Long = { org.apache.spark.perfbench.Bus.drain(spark.sparkContext); n }
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
