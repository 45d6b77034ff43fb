package perfbench

import graft.storage.{PartStore, PartStoreConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession, val tracer: Tracer, val seed: Long, val work: String,
    val log: OpLog) {
  private var ops = 0
  /** Time one operation in seconds, under an operation span when `traced`. */
  def timed[A](kind: String, traced: Boolean)(body: => A): (A, Double) = {
    ops += 1
    val t0 = System.nanoTime()
    val a = tracer.operation(kind, ops, traced)(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload of the closed loop: a single client that issues its next
  * operation only after the previous one has finished. */
trait Workload {
  /** Generate the set-up inputs and preload state. */
  def prepare(): Unit
  /** Warm-up operations, untimed, before the measured loop. */
  def warmup(): Unit
  /** One step of the loop (one or more operations), timed inside. Only
    * `counted` steps enter the metrics. */
  def step(i: Int, traced: Boolean, counted: Boolean): Unit
  /** Steps every run makes and the metrics are computed over, whatever
    * `--seconds` is: a faster program then runs extra, uncounted steps
    * instead of measuring a different mix of operations. */
  def minSteps: Int
  /** The same for a traced run, where every other step is traced; chosen
    * so both halves see the same mix of operations. */
  def traceSteps: Int
  /** Called once, right after the last counted step: end-of-run figures
    * (bytes per row) are taken here, so extra steps leave them unchanged. */
  def measured(): Unit
  /** Output checks over the whole run, off the clock. */
  def finish(): Unit
  /** Stop anything the workload left running. */
  def close(): Unit = ()
  /** Digest of the generated inputs of set-up and warm-up. */
  def inputDigest: String
  /** The end-to-end metrics of BENCHMARK.json, from untraced operations. */
  def endToEnd(traced: Boolean): Seq[(String, Metric)]
  /** This workload's own user-visible figures, under their own names. */
  def workloadMetrics(traced: Boolean): Seq[(String, Metric)]
  /** Figures only the workload knows (counts, ratios) for the traced run. */
  def layerFigures(summary: TraceSummary): Seq[(String, Metric)]
}

/** A PartStore whose public calls open storage spans, so that calls the
  * program makes on it (from the materialization runner, the dedup
  * pipeline or a streaming sink) are traced without touching program code.
  * In traced operations each store also records the bytes it wrote, from
  * listings of the store directory taken before and after the call. */
final class TracedPartStore(spark: SparkSession, cfg: PartStoreConfig, tracer: Tracer)
    extends PartStore(spark, cfg) {
  override def store(part: String, batch: DataFrame, zorderBy: Seq[String],
                     zorderBits: Int, batchIndicesHint: Option[Seq[Long]]): Int = {
    val before = if (tracer.active) tracer.span("trace", "listing")(
      Some(Files.listing(cfg.basePath))) else None
    val n = tracer.span("storage", "PartStore.store")(
      super.store(part, batch, zorderBy, zorderBits, batchIndicesHint))
    before.foreach { b =>
      val after = tracer.span("trace", "listing")(Files.listing(cfg.basePath))
      tracer.add("storage.bytes_written", Files.written(b, after).toDouble)
    }
    tracer.add("storage.store_calls", 1)
    tracer.add("storage.partitions_swapped", n)
    n
  }
  override def readPart(part: String): Option[DataFrame] =
    tracer.span("storage", "PartStore.readPart")(super.readPart(part))
  override def readPartRange(part: String, fromSec: Long, toSec: Long): Option[DataFrame] =
    tracer.span("storage", "PartStore.readPartRange")(super.readPartRange(part, fromSec, toSec))
  override def readPartZonePruned(part: String, c: String, lo: Long, hi: Long): Option[DataFrame] =
    tracer.span("storage", "PartStore.readPartZonePruned")(
      super.readPartZonePruned(part, c, lo, hi))
  override def markModified(part: String, batch: DataFrame, nowSec: Long): Unit =
    tracer.span("storage", "PartStore.markModified")(super.markModified(part, batch, nowSec))
  override def readModifiedLog(): Option[DataFrame] =
    tracer.span("storage", "PartStore.readModifiedLog")(super.readModifiedLog())

  /** Data files per live pindex directory of `part`. */
  def filesPerPartition(part: String): Double = {
    val dir = new java.io.File(s"${cfg.basePath}/$part")
    val parts = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("pindex="))
    if (parts.isEmpty) 0.0
    else parts.map(p => Option(p.listFiles()).toSeq.flatten
      .count(f => f.getName.endsWith(".parquet"))).sum.toDouble / parts.length
  }
}
