package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Bench-side tracing.
  *
  * Spans are recorded from the benchmark's own code around each public call
  * into a program layer (name, start, end, parent span, op id). Spark's own
  * events come from three listeners the benchmark registers: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (analysis / optimization / planning phases) and a
  * `StreamingQueryListener` (micro-batch progress). Every op sets the local
  * property [[OpProperty]] on the thread that runs it, so each job — and
  * through the job its stages and tasks — carries the op id.
  *
  * With tracing off nothing is registered and `span` only runs its body.
  * Everything is kept in memory and written out when the run ends.
  */
final class Trace {
  import Trace._

  @volatile var enabled = false

  // Span clock: System.nanoTime. Spark events carry epoch ms; converted
  // through one (epoch, nano) pair taken at construction.
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def msToNano(epochMs: Long): Long = epochMs * 1000000L - epochNs0 + nano0
  def nanoToEpochMs(ns: Long): Long = (ns - nano0 + epochNs0) / 1000000L

  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[String] { override def initialValue() = "" }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def currentOp: String = opOf.get

  /** Mark `op` as the op running on this thread, for spans and Spark jobs. */
  def beginOp(spark: SparkSession, op: String): Unit = {
    opOf.set(op)
    spark.sparkContext.setLocalProperty(OpProperty, op)
  }

  def endOp(spark: SparkSession): Unit = {
    opOf.set("")
    spark.sparkContext.setLocalProperty(OpProperty, null)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, opOf.get, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  // ---- Spark events -------------------------------------------------------

  private val jobOp = new ConcurrentHashMap[Int, String]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  @volatile private var fenceSeen = Set.empty[String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .getOrElse("")
      jobOp.put(e.jobId, op)
      e.stageIds.foreach(s => stageOp.put(s, op))
      if (op.startsWith(FencePrefix)) fenceSeen += op
      else if (op.nonEmpty) jobs.add(JobRec(e.jobId, op, msToNano(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.getOrDefault(e.stageInfo.stageId, "")
      if (op.nonEmpty && !op.startsWith(FencePrefix))
        stages.add(StageRec(e.stageInfo.stageId, op, e.stageInfo.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(e.stageId, "")
      val m = e.taskMetrics
      if (op.nonEmpty && !op.startsWith(FencePrefix) && m != null) {
        val i = e.taskInfo
        val run = m.executorRunTime
        val sched = math.max(0L, i.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(TaskRec(op, e.stageId, msToNano(i.launchTime), msToNano(i.finishTime),
          run, m.executorCpuTime, sched,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val timed = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (timed.nonEmpty)
        plans.add(PlanRec(msToNano(timed.map(_.startTimeMs).min),
          timed.map(_.durationMs).sum))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(ProgressRec(p.batchId, p.numInputRows, d))
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  /** Run one tagged job and wait until the listener has seen it: events are
    * delivered in order, so every earlier job and task has been recorded.
    */
  def fence(spark: SparkSession): Unit = {
    val tag = FencePrefix + ids.incrementAndGet()
    val prev = spark.sparkContext.getLocalProperty(OpProperty)
    spark.sparkContext.setLocalProperty(OpProperty, tag)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.setLocalProperty(OpProperty, prev)
    val deadline = System.nanoTime() + 10000000000L
    while (!fenceSeen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
    // Task ends of the fence job follow its start; give the bus a moment.
    Thread.sleep(200)
  }
}

object Trace {
  val OpProperty = "perfbench.op"
  private val FencePrefix = "__fence"

  final case class Span(id: Long, parent: Long, name: String, op: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class JobRec(jobId: Int, op: String, startNs: Long)
  final case class StageRec(stageId: Int, op: String, numTasks: Int)
  final case class TaskRec(op: String, stageId: Int, launchNs: Long, finishNs: Long,
      runMs: Long, cpuNs: Long, schedMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long)
  final case class PlanRec(startNs: Long, ms: Long)
  final case class ProgressRec(batchId: Long, rows: Long, durations: Map[String, Long])

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Spark's per-op figures over the ops whose windows are given
    * (op id -> (start ns, end ns)).
    */
  def sparkLayer(t: Trace, ops: Map[String, (Long, Long)], cores: Int): Map[String, Double] = {
    val n = math.max(ops.size, 1).toDouble
    val js = t.jobs.asScala.filter(j => ops.contains(j.op)).toSeq
    val ss = t.stages.asScala.filter(s => ops.contains(s.op)).toSeq
    val ts = t.tasks.asScala.filter(k => ops.contains(k.op)).toSeq
    val wallNs = ops.values.map { case (a, b) => b - a }.sum.toDouble
    val tasksByOp = ts.groupBy(_.op)
    val driverOnlyNs = ops.map { case (op, (a, b)) =>
      (b - a) - covered(tasksByOp.getOrElse(op, Nil).map(k => (k.launchNs, k.finishNs)), a, b)
    }.sum.toDouble
    val planMs = t.plans.asScala.toSeq.filter(p =>
      ops.values.exists { case (a, b) => p.startNs >= a && p.startNs < b }).map(_.ms).sum
    val busyMs = ts.map(_.runMs).sum.toDouble
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(k => math.max(k.runMs, 1L).toDouble)
      d.max / median(d)
    }.foldLeft(1.0)(math.max)
    Map(
      "spark.jobs_per_op" -> js.size / n,
      "spark.stages_per_op" -> ss.size / n,
      "spark.tasks_per_op" -> ts.size / n,
      "spark.plan_ms_per_op" -> planMs / n,
      "spark.driver_only_ms_per_op" -> driverOnlyNs / 1e6 / n,
      "spark.sched_delay_ms_per_op" -> ts.map(_.schedMs).sum / n,
      "spark.task_busy_ms_per_op" -> busyMs / n,
      "spark.task_cpu_ms_per_op" -> ts.map(_.cpuNs).sum / 1e6 / n,
      "spark.core_busy_frac" -> (if (wallNs > 0) busyMs * 1e6 / (wallNs * cores) else 0.0),
      "spark.task_skew" -> skew,
      "spark.shuffle_read_bytes_per_op" -> ts.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes_per_op" -> ts.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes_per_op" -> ts.map(_.spill).sum / n)
  }

  /** Calls, mean ms and Spark jobs started inside spans named `name`. */
  def spanStats(t: Trace, name: String, ops: Map[String, (Long, Long)])
      : (Int, Double, Seq[Int]) = {
    val ss = t.spans.asScala.filter(s => s.name == name && ops.contains(s.op)).toSeq
    val jobsBy = t.jobs.asScala.toSeq.groupBy(_.op)
    val jobsIn = ss.map(s => jobsBy.getOrElse(s.op, Nil)
      .count(j => j.startNs >= s.startNs && j.startNs < s.endNs))
    (ss.size, if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size, jobsIn)
  }

  def writeSpans(t: Trace, path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      t.spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
        w.println(BenchMain.json("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }
      t.jobs.asScala.toSeq.sortBy(_.startNs).foreach { j =>
        w.println(BenchMain.json("kind" -> "spark_job", "job" -> j.jobId, "op" -> j.op,
          "start_ns" -> j.startNs))
      }
      t.stages.asScala.toSeq.sortBy(_.stageId).foreach { s =>
        w.println(BenchMain.json("kind" -> "spark_stage", "stage" -> s.stageId, "op" -> s.op,
          "tasks" -> s.numTasks))
      }
    } finally w.close()
  }
}
