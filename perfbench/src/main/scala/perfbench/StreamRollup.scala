package perfbench

import graft.storage.PartStoreConfig
import graft.streaming.StreamingRollup
import graft.operators.TimeAggregation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable.ArrayBuffer

/** `stream_rollup`: each operation feeds one fixed-size micro-batch of
  * counter events into a MemoryStream and waits until the batch is
  * committed: `StreamingRollup.rollup` (15-minute windows, 10 minutes of
  * allowed lateness) into `StreamingRollup.trendSink`, which merges every
  * closed window into a PartStore. */
final class StreamRollup(ctx: Ctx) extends Workload {
  import StreamRollup._
  import ctx.{spark, tracer}
  val gen = new StreamGen(ctx.seed, Entities, EventsPerBatch)
  private val base = s"${ctx.work}/stream"
  private val ps = new TracedPartStore(spark, PartStoreConfig(base, 86400L), tracer)
  private val listener = new StreamListener
  private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val mem = {
    import spark.implicits._
    MemoryStream[(Long, java.sql.Timestamp, Long)]
  }
  private var query: StreamingQuery = _
  private val digest = new Digest
  private val inside = ArrayBuffer.empty[(Long, Long, Long)]
  private var lateFed = 0L
  private var batches = 0
  private val batchTimes = ArrayBuffer.empty[(Double, Boolean, Int)]

  def prepare(): Unit = {
    spark.streams.addListener(listener)
    val stream = mem.toDF().toDF("entity_id", "ts", "v")
    val rolled = StreamingRollup.rollup(stream, "entity_id", "ts", StreamGen.Window,
      StreamGen.LatenessSec, Seq(count(lit(1)).as("samples"), sum(col("v")).as("v")))
      .withColumn("modified", lit(1L))
    query = StreamingRollup.trendSink(rolled, ps, "stream_15m",
      checkpointLocation = Some(s"${ctx.work}/checkpoint"))
  }

  def warmup(): Unit = (0 until WarmupBatches).foreach(_ => feed(traced = false, timed = false))

  def minSteps: Int = MinBatches
  def traceSteps: Int = 8

  def step(i: Int, traced: Boolean, counted: Boolean): Unit = feed(traced, timed = counted)

  private def feed(traced: Boolean, timed: Boolean): Unit = {
    val events = gen.next()
    if (batches < WarmupBatches) events.foreach { e =>
      digest.add(e.entity); digest.add(e.sec); digest.add(e.v) }
    val rows = events.map(e => (e.entity, new java.sql.Timestamp(e.sec * 1000L), e.v))
    val in = events.filter(_.inside)
    inside ++= in.map(e => (e.entity, e.sec, e.v))
    lateFed += events.length - in.length
    ctx.log.record(s"micro-batch $batches") {
      val (_, sec) = ctx.timed("microbatch", traced) {
        tracer.add("input_bytes", events.length * 24.0)
        tracer.span("streaming", "MemoryStream.addData")(mem.addData(rows))
        tracer.span("streaming", "StreamingQuery.processAllAvailable")(query.processAllAvailable())
      }
      if (timed) batchTimes += ((sec, traced, in.length))
      query.exception.map(e => s"query failed: ${e.getMessage}")
    }
    batches += 1
  }

  def finish(): Unit = {
    // close every window fed so far, then compare the sink with a batch
    // rollup of the events inside the lateness bound
    val f = gen.flushEvent
    mem.addData((f.entity, new java.sql.Timestamp(f.sec * 1000L), f.v))
    query.processAllAvailable()
    query.stop()
    org.apache.spark.BusDrain(spark.sparkContext)
    import spark.implicits._
    val want = FrameHash(TimeAggregation.rollup(inside.toSeq.toDF("entity_id", "sec", "v"),
      "entity_id", "sec", StreamGen.Window,
      Seq(count(lit(1)).as("samples"), sum(col("v")).as("v"))), Cols)
    val sink = ps.readPart("stream_15m").get.filter(col("entity_id") >= 0)
    val got = FrameHash(sink, Cols)
    if (got != want) ctx.log.failAll(s"sink part $got != batch rollup of in-bound events $want")
    val dropped = listener.progress.map(_.droppedByWatermark).sum
    dropRatio = dropped.toDouble / lateFed
    if (dropped != lateFed)
      ctx.log.failAll(s"watermark dropped $dropped rows, generator sent $lateFed beyond it")
  }

  def measured(): Unit = {
    // windows the watermark has closed so far are in the sink
    bytesPerRow = Files.bytes(base).toDouble / ps.readPart("stream_15m").get.count()
    filesPerPart = ps.filesPerPartition("stream_15m")
  }
  private var dropRatio = 0.0
  private var bytesPerRow = 0.0
  private var filesPerPart = 0.0

  override def close(): Unit = {
    if (query.isActive) query.stop()
    spark.streams.removeListener(listener)
  }

  def inputDigest: String = digest.hex

  private def pick(traced: Boolean) = batchTimes.filter(_._2 == traced).toSeq

  def endToEnd(traced: Boolean): Seq[(String, Metric)] = {
    val b = pick(traced)
    Seq(
      "op_p50_s" -> Metric(Stats.median(b.map(_._1)), "s"),
      "items_per_s" -> Metric(b.map(_._3).sum / b.map(_._1).sum, "1/s"),
      "store_bytes_per_row" -> Metric(bytesPerRow, "B/row"))
  }

  def workloadMetrics(traced: Boolean): Seq[(String, Metric)] = {
    val b = pick(traced)
    Seq(
      "events_per_s" -> Metric(b.map(_._3).sum / b.map(_._1).sum, "events/s"),
      "microbatch_p50_s" -> Metric(Stats.median(b.map(_._1)), "s"),
      "microbatch_p90_s" -> Metric(Stats.quantile(b.map(_._1), 0.9), "s"),
      "store_bytes_per_row" -> Metric(bytesPerRow, "B/row"),
      "micro_batches" -> Metric(b.length, "count"))
  }

  def layerFigures(s: TraceSummary): Seq[(String, Metric)] = {
    val k = "microbatch"
    val n = math.max(1, s.ops(k)).toDouble
    // engine progress of the timed batches (the flush batch is left out)
    val p = listener.progress.filter(b => b.batchId >= WarmupBatches && b.inputRows > 1)
    def mean(f: BatchProgress => Double) = if (p.isEmpty) 0.0 else p.map(f).sum / p.length
    Seq(
      "storage.store_s" -> Metric(s.selfPerOp(k, s.named("storage", "PartStore.store")), "s"),
      "storage.store_calls" -> Metric(s.counter("storage.store_calls") / n, "count"),
      "storage.partitions_swapped" -> Metric(s.counter("storage.partitions_swapped") / n, "count"),
      "storage.write_amp" -> Metric(s.counter("storage.bytes_written") / s.counter("input_bytes"), "ratio"),
      "storage.files_per_partition" -> Metric(filesPerPart, "count"),
      "streaming.add_batch_ms" -> Metric(mean(_.addBatchMs), "ms"),
      "streaming.wal_commit_ms" -> Metric(mean(_.walCommitMs), "ms"),
      "streaming.query_planning_ms" -> Metric(mean(_.planningMs), "ms"),
      "streaming.state_rows" -> Metric(p.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
      "streaming.state_commit_ms" -> Metric(mean(_.stateCommitMs), "ms"),
      "streaming.state_memory_bytes" -> Metric(p.lastOption.map(_.stateMemory.toDouble).getOrElse(0.0), "B"),
      "streaming.watermark_drop_ratio" -> Metric(dropRatio, "ratio"),
      "stream.microbatch_p90_s" -> Metric(Stats.quantile(pick(false).map(_._1), 0.9), "s")) ++
      s.spark(k)
  }
}

object StreamRollup {
  val Entities = 500
  val EventsPerBatch = 4000
  val WarmupBatches = 3
  val MinBatches = 6
  val Cols = Seq("entity_id", "timestamp", "samples", "v")
}
