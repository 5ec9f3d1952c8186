package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side spans of each timed operation, read from outside graft: a
  * SparkListener for jobs and tasks and a QueryExecutionListener for the
  * QueryPlanningTracker phases. The bus is drained at both ends of an
  * operation, so events between the two drains belong to it.
  */
final class Tracer(spark: SparkSession) {
  final case class Task(ms: Long, cpuNs: Long, gcMs: Long, shRead: Long,
                                shWrite: Long, spill: Long)
  final case class OpTrace(kind: String, leg: String, wallMs: Double, jobs: Int, inJobMs: Double,
                                   tasks: Seq[Task], analysisMs: Double,
                                   optimizationMs: Double, planningMs: Double)

  private val jobStart = scala.collection.mutable.HashMap[Int, Long]()
  private val jobSpans = ArrayBuffer[(Long, Long)]()
  private val tasks = ArrayBuffer[Task]()
  private val phases = ArrayBuffer[Map[String, Long]]()
  val ops = ArrayBuffer[OpTrace]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      phases += qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def begin(spark: SparkSession, op: Main.Op): Unit = {
    Bus.drain(spark.sparkContext)
    synchronized { jobStart.clear(); jobSpans.clear(); tasks.clear(); phases.clear() }
  }

  def end(spark: SparkSession, op: Main.Op, wallMs: Double): Unit = {
    Bus.drain(spark.sparkContext)
    synchronized {
      def phase(k: String) = phases.map(_.getOrElse(k, 0L)).sum.toDouble
      ops += OpTrace(op.kind, op.leg, wallMs, jobSpans.length, unionMs(jobSpans.toSeq), tasks.toSeq,
        phase("analysis"), phase("optimization"), phase("planning"))
    }
  }

  /** Wall time covered by at least one running job. */
  private def unionMs(spans: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def close(spark: SparkSession): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-operation means of the traced phase, plus the smallest in-job
    * share of wall time over the scans (over every operation where the
    * workload has no scans).
    */
  def summary: Seq[(String, Double)] = synchronized {
    val skew = ops.filter(_.tasks.nonEmpty).map { o =>
      val ms = o.tasks.map(_.ms.toDouble)
      ms.max / math.max(1.0, median(ms))
    }.toSeq
    val shareOps = if (ops.exists(_.leg == "scan")) ops.filter(_.leg == "scan") else ops
    def m(f: OpTrace => Double) = mean(ops.map(f).toSeq)
    Seq(
      "spark.analysis_ms" -> m(_.analysisMs),
      "spark.optimization_ms" -> m(_.optimizationMs),
      "spark.planning_ms" -> m(_.planningMs),
      "spark.jobs" -> m(_.jobs.toDouble),
      "spark.in_job_ms" -> m(_.inJobMs),
      "spark.driver_gap_ms" -> m(o => math.max(0.0, o.wallMs - o.inJobMs)),
      "spark.in_job_share_min" -> shareOps.map(o => o.inJobMs / o.wallMs).minOption.getOrElse(0.0),
      "spark.tasks" -> m(_.tasks.size.toDouble),
      "spark.task_ms_max_over_median" -> mean(skew),
      "spark.executor_cpu_ms" -> m(_.tasks.map(_.cpuNs).sum / 1e6),
      "spark.executor_gc_ms" -> m(_.tasks.map(_.gcMs).sum.toDouble),
      "spark.shuffle_read_bytes" -> m(_.tasks.map(_.shRead).sum.toDouble),
      "spark.shuffle_write_bytes" -> m(_.tasks.map(_.shWrite).sum.toDouble),
      "spark.spill_bytes" -> m(_.tasks.map(_.spill).sum.toDouble),
      "spark.ops_traced" -> ops.size.toDouble)
  }
}
