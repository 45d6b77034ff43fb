package perfbench

import graft.functions.Dedup
import graft.storage.PartStoreConfig
import scala.collection.mutable.ArrayBuffer

/** `corpus_dedup`: each operation appends one batch of documents through
  * `Dedup.nearDupIncremental` against the persisted bucket, sketch and
  * parent stores, with the parameters of the incremental near-dup gate
  * (4 bands × 2 rows, 3-shingles, 256-minima sketches, Jaccard ≥ 0.5,
  * buckets capped at 50). State grows with every append. */
final class CorpusDedup(ctx: Ctx) extends Workload {
  import CorpusDedup._
  import ctx.{spark, tracer}
  val gen = new CorpusGen(ctx.seed, BatchSize)
  private val stores = Seq("b" -> Seq("band", "key", "entity_id"),
    "s" -> Seq("entity_id"), "p" -> Seq("entity_id")).map { case (name, keys) =>
    new TracedPartStore(spark, PartStoreConfig(s"${ctx.work}/dedup/$name", 1L << 55,
      keyCols = keys), tracer)
  }
  private val digest = new Digest
  private var batches = 0
  private val appendTimes = ArrayBuffer.empty[(Double, Boolean)]
  /** Keeper of every document, as of the append that brought it. */
  private val keepers = scala.collection.mutable.Map.empty[Long, Long]

  def prepare(): Unit = ()

  def warmup(): Unit = (0 until WarmupAppends).foreach(b => append(b, traced = false, timed = false))

  def minSteps: Int = MinAppends
  def traceSteps: Int = 2 * MinAppends

  def step(i: Int, traced: Boolean, counted: Boolean): Unit =
    append(WarmupAppends + i, traced, timed = counted)

  private def append(b: Int, traced: Boolean, timed: Boolean): Unit = {
    val docs = gen.batch(b)
    if (b < WarmupAppends) docs.foreach { d => digest.add(d.id); digest.add(d.text) }
    import spark.implicits._
    val frame = docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val inputBytes = docs.map(_.text.length.toDouble).sum
    ctx.log.record(s"append $b") {
      val (rows, sec) = ctx.timed("append", traced) {
        tracer.add("input_bytes", inputBytes)
        val out = tracer.span("functions", "Dedup.nearDupIncremental")(
          Dedup.nearDupIncremental(stores(0), stores(1), stores(2), frame, "doc_id", "text",
            bands = 4, rowsPerBand = 2, shingleK = 3, sketchK = 256, threshold = 0.5,
            maxBucket = 50))
        tracer.span("functions", "collect")(out.select("doc_id", "keeper").collect())
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      if (timed) appendTimes += ((sec, traced))
      batches = b + 1
      rows.foreach { case (d, k) => keepers(d) = k }
      CorpusDedup.checkBatch(docs.map(_.id), rows)
    }
  }

  /** Recall and precision over the first `QualityBatches` appends, which
    * every run makes, so both repeat exactly for a seed. */
  private def quality: (Double, Double) = {
    val ids = (0 until QualityBatches).flatMap(b => gen.batch(b)).map(d => d.id -> d.source.isDefined)
    val planted = ids.count(_._2)
    val flagged = ids.filter { case (id, _) => keepers.get(id).exists(_ != id) }
    val hit = flagged.count(_._2)
    (hit.toDouble / planted, if (flagged.isEmpty) 1.0 else hit.toDouble / flagged.length)
  }

  def measured(): Unit = {
    stateBytesPerDoc = stores.map(s => Files.bytes(s.config.basePath)).sum.toDouble /
      (batches * BatchSize)
    // the part names nearDupIncremental writes in each store
    filesPerPart = stores.zip(Seq("buckets", "sk", "par"))
      .map { case (s, p) => s.filesPerPartition(p) }.sum / stores.length
  }

  def finish(): Unit = {
    if (keepers.size != batches * BatchSize)
      ctx.log.failAll(s"${keepers.size} keepers for ${batches * BatchSize} documents")
    val (recall, precision) = quality
    checkQuality(recall, precision).foreach(ctx.log.failAll)
  }
  private var stateBytesPerDoc = 0.0
  private var filesPerPart = 0.0

  def inputDigest: String = digest.hex

  private def pick(traced: Boolean) = appendTimes.collect { case (t, tr) if tr == traced => t }.toSeq

  def endToEnd(traced: Boolean): Seq[(String, Metric)] = {
    val ts = pick(traced)
    Seq(
      "op_p50_s" -> Metric(Stats.median(ts), "s"),
      "items_per_s" -> Metric(ts.length * BatchSize / ts.sum, "1/s"),
      "store_bytes_per_row" -> Metric(stateBytesPerDoc, "B/row"))
  }

  def workloadMetrics(traced: Boolean): Seq[(String, Metric)] = {
    val ts = pick(traced)
    val (recall, precision) = quality
    Seq(
      "docs_per_s" -> Metric(ts.length * BatchSize / ts.sum, "docs/s"),
      "append_p50_s" -> Metric(Stats.median(ts), "s"),
      "dup_recall" -> Metric(recall, "ratio"),
      "dup_precision" -> Metric(precision, "ratio"),
      "appends" -> Metric(ts.length, "count"),
      "corpus_docs" -> Metric(batches * BatchSize, "count"))
  }

  def layerFigures(s: TraceSummary): Seq[(String, Metric)] = {
    val k = "append"
    val n = math.max(1, s.ops(k)).toDouble
    val (recall, precision) = quality
    val fn = s.named("functions", "Dedup.nearDupIncremental")
    Seq(
      "storage.store_s" -> Metric(s.selfPerOp(k, s.named("storage", "PartStore.store")), "s"),
      "storage.store_calls" -> Metric(s.counter("storage.store_calls") / n, "count"),
      "storage.partitions_swapped" -> Metric(s.counter("storage.partitions_swapped") / n, "count"),
      "storage.write_amp" -> Metric(s.counter("storage.bytes_written") / s.counter("input_bytes"), "ratio"),
      "storage.files_per_partition" -> Metric(filesPerPart, "count"),
      "storage.state_bytes_per_doc" -> Metric(stateBytesPerDoc, "B/doc"),
      "functions.append_s" -> Metric(s.selfPerOp(k, s.named("functions")), "s"),
      "functions.jobs_per_append" -> Metric(s.jobsPerOp(k, fn), "count"),
      "functions.dup_recall" -> Metric(recall, "ratio"),
      "functions.dup_precision" -> Metric(precision, "ratio")) ++ s.spark(k)
  }
}

object CorpusDedup {
  val BatchSize = 100
  val WarmupAppends = 1
  val MinAppends = 2
  val QualityBatches = WarmupAppends + MinAppends

  /** Lowest near-duplicate recall and precision a run may report. Both
    * are deterministic for a seed; the floors sit below the lowest values
    * the program gave on seeds 1-20 (see steadiness/README.md), so a
    * speed-up bought with dedup quality fails the run instead of passing
    * as a gain. */
  val RecallFloor = 0.7
  val PrecisionFloor = 0.9

  def checkQuality(recall: Double, precision: Double): Option[String] =
    if (recall >= RecallFloor && precision >= PrecisionFloor) None
    else Some(f"near-dup quality below its floor: recall $recall%.4f (floor $RecallFloor), " +
      f"precision $precision%.4f (floor $PrecisionFloor)")

  /** One append's output: one keeper per batch document, never above it. */
  def checkBatch(ids: Seq[Long], rows: Seq[(Long, Long)]): Option[String] = {
    val got = rows.map(_._1)
    if (got.sorted != ids.sorted) Some(s"${got.length} output rows for ${ids.length} documents")
    else rows.collectFirst { case (d, k) if k > d => s"keeper $k of document $d is above it" }
  }
}
