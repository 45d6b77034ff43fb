package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds. `op` is the id of the
  * operation (cycle, append, micro-batch, query) the span belongs to;
  * `parent` is -1 for an operation's root span. */
final case class Span(
    id: Int, parent: Int, op: Int, module: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object SpanMath {
  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(c, s.startNs, s.endNs))
    }.toMap
  }
}

/** Spans around the benchmark's calls into the program. Spans are opened
  * only inside a traced operation; everywhere else `span` runs its body
  * untouched, so untraced operations pay one flag test per call.
  *
  * Spark jobs find their span through the `perfbench.span` local property
  * that each span sets on its thread for its duration. */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNano)

  private val done = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  @volatile private var root: Option[(Int, Int)] = None // (op id, root span id)
  private val counters = mutable.Map.empty[String, Double]
  private val opsByKind = mutable.Map.empty[String, Int]

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
  def tracedOps(kind: String): Int = opsByKind.getOrElse(kind, 0)
  def counter(name: String): Double = counters.synchronized(counters.getOrElse(name, 0.0))
  def active: Boolean = root.isDefined

  /** Add to a named per-run counter; only traced operations count. */
  def add(name: String, v: Double): Unit =
    if (active) counters.synchronized(counters(name) = counters.getOrElse(name, 0.0) + v)

  /** Run one operation, as a root span when `traced`. */
  def operation[A](kind: String, opId: Int, traced: Boolean)(body: => A): A =
    if (!traced) body
    else {
      val id = nextId.getAndIncrement()
      root = Some((opId, id))
      opsByKind(kind) = opsByKind.getOrElse(kind, 0) + 1
      try within(id, -1, opId, "bench", kind)(body)
      finally root = None
    }

  def span[A](module: String, name: String)(body: => A): A = root match {
    case None => body
    case Some((opId, rootId)) =>
      val parent = stack.get().headOption.getOrElse(rootId)
      within(nextId.getAndIncrement(), parent, opId, module, name)(body)
  }

  private def within[A](id: Int, parent: Int, opId: Int, module: String, name: String)(
      body: => A): A = {
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack.set(id :: stack.get())
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      stack.set(stack.get().tail)
      sc.setLocalProperty(Tracer.SpanKey, prevProp)
      done.add(Span(id, parent, opId, module, name, t0, t1))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-stage numbers from the engine's listener bus. */
final case class StageRec(
    stageId: Int, jobId: Int, jobStartMs: Long, spanProp: Option[Int],
    submitMs: Long, completeMs: Long, tasks: Int, cpuNs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, bytesRead: Long,
    csvScan: Boolean)

/** Benchmark-owned SparkListener and QueryExecutionListener: records every
  * job, stage and query-planning summary, for attribution to spans once the
  * run has ended. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  private case class JobRec(jobId: Int, timeMs: Long, spanProp: Option[Int])
  private case class TaskAcc(var cpu: Long = 0, var shr: Long = 0, var shw: Long = 0,
                             var spill: Long = 0, var in: Long = 0)
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val acc = mutable.Map.empty[(Int, Int), TaskAcc]
  private val stageRecs = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, planning ms)
  private val jobRecs = mutable.ArrayBuffer.empty[JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .flatMap(_.toIntOption)
    val j = JobRec(e.jobId, e.time, prop)
    jobRecs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.getOrElseUpdate((e.stageId, e.stageAttemptId), TaskAcc())
      a.cpu += m.executorCpuTime
      a.shr += m.shuffleReadMetrics.totalBytesRead
      a.shw += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.in += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = acc.remove((si.stageId, si.attemptNumber())).getOrElse(TaskAcc())
    val j = stageJob.get(si.stageId)
    val csv = si.rddInfos.exists(r =>
      r.scope.exists(_.name.toLowerCase.contains("scan csv")))
    stageRecs += StageRec(si.stageId, j.map(_.jobId).getOrElse(-1),
      j.map(_.timeMs).getOrElse(si.submissionTime.getOrElse(0L)), j.flatMap(_.spanProp),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
      a.cpu, a.shr, a.shw, a.spill, a.in, csv)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def stages: Seq[StageRec] = synchronized(stageRecs.toSeq)
  def jobs: Seq[(Int, Long, Option[Int])] =
    synchronized(jobRecs.map(j => (j.jobId, j.timeMs, j.spanProp)).toSeq)
  def planning: Seq[(Long, Long)] = synchronized(plans.toSeq)
}

/** Per-batch streaming progress from a benchmark-owned
  * StreamingQueryListener. */
final case class BatchProgress(
    batchId: Long, addBatchMs: Long, walCommitMs: Long, planningMs: Long,
    stateRows: Long, stateCommitMs: Long, stateMemory: Long, droppedByWatermark: Long,
    inputRows: Long)

final class StreamListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private val recs = new ConcurrentLinkedQueue[BatchProgress]()
  def progress: Seq[BatchProgress] = recs.asScala.toSeq.sortBy(_.batchId)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    recs.add(BatchProgress(p.batchId, d("addBatch"), d("walCommit"), d("queryPlanning"),
      ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
      ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      p.numInputRows))
  }
}

/** Engine and JVM figures attributed to the spans of traced operations. */
object Attribution {
  /** Innermost span whose interval holds `tMs`, preferring the span named
    * by the job's local property when that span was open at the time. Jobs
    * run by a streaming query's own thread carry the property of the span
    * that started the query, which has closed, so they fall back to time. */
  def spanOf(spans: Seq[Span], byId: Map[Int, Span], prop: Option[Int], tMs: Long): Option[Span] = {
    val tNs = tMs * 1000000L
    prop.flatMap(byId.get).filter(s => s.startNs <= tNs && tNs <= s.endNs).orElse {
      val holding = spans.filter(s => s.startNs <= tNs && tNs <= s.endNs)
      if (holding.isEmpty) None else Some(holding.maxBy(_.startNs))
    }
  }
}
