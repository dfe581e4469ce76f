package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the traced run collects at the Spark boundary: jobs and tasks
  * from a SparkListener, planning phases from a QueryExecutionListener and
  * Janino compile time from Spark's JVM-wide codegen counters. Only
  * registered when tracing is on, so the untraced run pays nothing. */
object Trace {

  /** Cumulative counter values; a window is the difference of two. */
  final case class Snap(jobs: Long, tasks: Long, busyMs: Long,
                        shuffleWriteB: Long, spillB: Long, failed: Long,
                        planMs: Long, codegenNs: Long, codegenClasses: Long,
                        selfNs: Long, durIdx: Int)

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val busyMs = new AtomicLong
  private val shuffleWriteB = new AtomicLong
  private val spillB = new AtomicLong
  private val failed = new AtomicLong
  private val planMs = new AtomicLong
  private val selfNs = new AtomicLong
  /** (spark stage key, task duration ms), in arrival order */
  private val durations = mutable.ArrayBuffer.empty[(String, Long)]
  private val contexts = new AtomicLong

  private def self[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  private final class Tasks(ctx: Long) extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      self(jobs.incrementAndGet())

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = self {
      tasks.incrementAndGet()
      if (e.reason != Success) failed.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      durations.synchronized {
        durations += ((s"$ctx/${e.stageId}/${e.stageAttemptId}",
                       e.taskInfo.duration))
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = self {
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  /** Register both listeners on a session (once per SparkContext). */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new Tasks(contexts.incrementAndGet()))
    spark.listenerManager.register(Plans)
  }

  def snap(spark: SparkSession): Snap = {
    BenchBus.drain(spark.sparkContext)
    Snap(jobs.get, tasks.get, busyMs.get, shuffleWriteB.get, spillB.get,
         failed.get, planMs.get,
         org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
           .compileTime,
         org.apache.spark.metrics.source.CodegenMetrics
           .METRIC_COMPILATION_TIME.getCount,
         selfNs.get, durations.synchronized(durations.size))
  }

  /** Busy-time-weighted mean over Spark stages (with >= 2 tasks) of the
    * max/median task duration: the typical straggler penalty. */
  private def skew(from: Int, to: Int): Double = {
    val window = durations.synchronized(durations.slice(from, to).toList)
    val perStage = window.groupBy(_._1).values.map(_.map(_._2).sorted)
      .filter(_.size >= 2)
    val weighted = perStage.map { ds =>
      val med = math.max(1L, ds(ds.size / 2))
      (ds.last.toDouble / med, ds.sum.toDouble)
    }
    val w = weighted.map(_._2).sum
    if (w <= 0) 0.0 else weighted.map { case (s, b) => s * b }.sum / w
  }

  /** Per-operation averages of the counters over a window of `ops` ops. */
  def runtimeMetrics(a: Snap, b: Snap, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "runtime.jobs" -> (b.jobs - a.jobs) / n,
      "runtime.tasks" -> (b.tasks - a.tasks) / n,
      "runtime.task_busy_s" -> (b.busyMs - a.busyMs) / 1e3 / n,
      "runtime.task_skew" -> skew(a.durIdx, b.durIdx),
      "runtime.shuffle_write_mb" -> (b.shuffleWriteB - a.shuffleWriteB) / 1e6 / n,
      "runtime.spill_mb" -> (b.spillB - a.spillB) / 1e6 / n,
      "runtime.failed_tasks" -> (b.failed - a.failed).toDouble,
      "trace.listener_s" -> (b.selfNs - a.selfNs) / 1e9 / n)
  }

  /** Planning and codegen cost over a window (totals, not averages). */
  def coldPathMetrics(a: Snap, b: Snap): Map[String, Double] = Map(
    "ops.plan_s" -> (b.planMs - a.planMs) / 1e3,
    "ops.codegen_s" -> (b.codegenNs - a.codegenNs) / 1e9,
    "ops.codegen_classes" -> (b.codegenClasses - a.codegenClasses).toDouble)
}
