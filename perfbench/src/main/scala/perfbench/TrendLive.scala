package perfbench

import graft.core.MinervaType
import graft.operators._
import graft.sources.{CsvSourceConfig, CsvTrendSource}
import graft.storage.{NotificationStore, PartStoreConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** `trend_live`: the minerva loop. Set-up bulk-loads `HistoryDays` of 15m
  * history into a daily-partitioned part (zone map on entity_id) and rolls
  * it up to 1h. Each cycle then loads the next harvest file (plus, on every
  * third cycle, a re-delivered file for an interval up to 3 days back),
  * materializes the stale 1h chunks, and fires the trigger on them. After
  * each cycle the dashboard query mix runs `QueryRounds` times. */
final class TrendLive(ctx: Ctx) extends Workload {
  import TrendLive._
  import ctx.{spark, tracer}
  val gen = new TrendGen(ctx.seed, Entities, Counters, HistoryDays, Sites, RedeliverEvery)
  private val base = s"${ctx.work}/trend"
  private val ps = new TracedPartStore(spark,
    PartStoreConfig(base, 86400L, zoneCols = Seq("entity_id")), tracer)
  private val runner = new MaterializationRunner(spark, ps, s"$base/_state")
  private val ns = new NotificationStore(spark, s"${ctx.work}/notification/c00_high")
  private val cfg = CsvSourceConfig("cell", Some("ts"))
  private val schema: Seq[(String, MinervaType)] =
    Seq("cell" -> MinervaType.MText, "ts" -> MinervaType.MTimestamp) ++
      gen.counterNames.map(_ -> MinervaType.MBigInt)
  private val rule = TriggerRule("c00_high", Map("max_c00" -> TrendGen.Threshold),
    "c00 > max_c00", "c00", concat(lit("c00="), col("c00")))
  private def hourAggs = TimeAggregation.samples +: gen.counterNames.map(c => sum(col(c)).as(c))
  private lazy val emptyDim = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row],
    StructType(Seq(StructField("name", StringType), StructField("id", LongType))))
  private lazy val relation = spark.createDataFrame(
    (0 until Entities).map(e => (gen.cellId(e), gen.siteId(gen.siteOf(e)))))
    .toDF("source_id", "target_id")
  private lazy val sortedIds = (0 until Entities).map(gen.cellId).sorted

  private val digest = new Digest
  private var digestOpen = true
  private var cycles = 0
  private val cycleTimes = ArrayBuffer.empty[Double]
  private val cycleTraced = ArrayBuffer.empty[Boolean]
  private val queryTimes = ArrayBuffer.empty[(Double, Boolean)]
  private var rowsLoaded = 0L
  private var rowsLoadedUntraced = 0L

  private def drop(dir: String, name: String, text: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, name), text)
    if (digestOpen) { digest.add(name); digest.add(text) }
  }

  /** Harvest package → entity ids → store batch, as `load-data` composes it. */
  private def toBatch(pkg: DataFrame, now: Long): DataFrame = {
    val pkgS = pkg.withColumn("entity", col("entity").cast("string"))
    val resolved = tracer.span("operators", "EntityResolution.resolveHash")(
      EntityResolution.resolveHash(pkgS.select(col("entity").as("name")), emptyDim, "cell"))
    pkgS.join(resolved, pkgS("entity") === resolved("name"))
      .drop("entity", "name")
      .withColumnRenamed("id", "entity_id")
      .withColumn("modified", lit(now))
  }

  def prepare(): Unit = {
    val hist = s"${ctx.work}/history"
    (0 until HistoryDays).foreach(d => drop(hist, f"day-$d%02d.csv", gen.historyCsv(d)))
    val t0 = gen.ts(0)
    ps.store("trend_15m", toBatch(CsvTrendSource.read(spark, hist, cfg, schema), t0))
    ps.store("trend_1h", TimeAggregation.rollup(ps.readPart("trend_15m").get,
      "entity_id", "timestamp", 3600L, hourAggs).withColumn("modified", lit(t0)))
  }

  def warmup(): Unit = {
    (0 until WarmupCycles).foreach(c => runCycle(c, traced = false, timed = false))
    digestOpen = false
  }

  def minSteps: Int = MinCycles
  // re-deliveries come every third cycle: six cycles give each half of a
  // traced run one
  def traceSteps: Int = 6

  def step(i: Int, traced: Boolean, counted: Boolean): Unit =
    runCycle(WarmupCycles + i, traced, timed = counted)

  private def runCycle(c: Int, traced: Boolean, timed: Boolean): Unit = {
    val ds = gen.deliveries(c)
    val dir = s"${ctx.work}/drop/cycle-$c"
    val texts = ds.map(gen.csv)
    ds.zip(texts).foreach { case (d, t) => drop(dir, s"slot-${d.slot}-v${d.version}.csv", t) }
    val inputBytes = texts.map(_.length.toDouble).sum
    val useful = ds.map(_.slot / 4).distinct.length
    val now = gen.dropSec(c)
    var chunks = Seq.empty[Long]
    ctx.log.record(s"cycle $c") {
      val (_, sec) = ctx.timed("cycle", traced) {
        tracer.add("input_bytes", inputBytes)
        tracer.add("operators.chunks_useful", useful)
        chunks = cycle(dir, now)
      }
      if (timed) {
        cycleTimes += sec
        cycleTraced += traced
        val rows = ds.map(_.cells.length).sum
        rowsLoaded += rows
        if (!traced) rowsLoadedUntraced += rows
      }
      val want = ds.map(d => hourOf(gen.ts(d.slot))).toSet
      if (chunks.toSet == want && chunks.length == want.size) None
      else Some(s"materialized chunks ${chunks.sorted} != touched chunks ${want.toSeq.sorted}")
    }
    cycles = c + 1
    (0 until QueryRounds).foreach(r => queries(c, r, traced, timed))
  }

  /** One cycle: file drop to rollup and notifications stored. */
  private def cycle(dir: String, now: Long): Seq[Long] = {
    val pkg = tracer.span("sources", "CsvTrendSource.read")(
      CsvTrendSource.read(spark, dir, cfg, schema))
    val batch = toBatch(pkg, now)
    ps.store("trend_15m", batch)
    ps.markModified("trend_15m", batch, now)
    val log = ps.readModifiedLog().get
    val fp = tracer.span("operators", "Materialization.fingerprint")(
      Materialization.fingerprint(Materialization.modifiedState(
        log.withColumn("chunk", col("timestamp") - pmod(col("timestamp"), lit(3600L))),
        Seq("chunk", "part"), "modified"), "chunk", "part", "last_modified"))
    val spec = MaterializationSpec("trend_1h", chunk => {
      val src = ps.readPartRange("trend_15m", chunk, chunk + 3600L).get
      tracer.span("operators", "TimeAggregation.rollup")(
        TimeAggregation.rollup(src, "entity_id", "timestamp", 3600L, hourAggs))
        .withColumn("modified", lit(now))
    }, stabilityDelaySec = 0L, retentionSec = 3L * 86400 + 3600L)
    val chunks = tracer.span("operators", "MaterializationRunner.run")(runner.run(spec, fp, now))
    tracer.add("operators.chunks_run", chunks.length)
    if (chunks.nonEmpty) {
      val kpi = chunks.map(ch => ps.readPartRange("trend_1h", ch + 3600L, ch + 3601L).get)
        .reduce(_ unionByName _)
      val out = tracer.span("operators", "TriggerOps.createNotifications")(
        TriggerOps.createNotifications(kpi, rule))
      tracer.span("storage", "NotificationStore.store")(ns.store(out, now))
    }
    chunks
  }

  /** The dashboard query mix: recent and pruned reads beside scans of the
    * whole history, with their expected result sizes. */
  private def queries(c: Int, round: Int, traced: Boolean, timed: Boolean): Unit = {
    val slots = gen.historySlots + c + 1
    val end = gen.ts(slots)
    def run(kind: String, expect: Long)(q: => DataFrame): Unit = {
      ctx.log.record(s"query $kind after cycle $c") {
        val (rows, sec) = ctx.timed(s"query.$kind", traced) {
          val df = q
          tracer.span(if (kind == "site_1h" || kind == "history_1d") "operators" else "storage",
            "collect")(df.collect())
        }
        if (timed) queryTimes += ((sec, traced))
        val got = if (kind == "id_range") rows.head.getLong(0) else rows.length.toLong
        if (got == expect) None else Some(s"got $got rows, want $expect")
      }
    }
    val e = Mix.below(Entities, ctx.seed, 31, c, round).toInt
    run("entity_24h", TrendGen.SlotsPerDay) {
      ps.readPartRange("trend_15m", end - 86400L, end).get
        .filter(col("entity_id") === gen.cellId(e))
    }
    val w = math.max(1, Entities / 100)
    val lo = Mix.below(Entities - w + 1, ctx.seed, 32, c, round).toInt
    run("id_range", w.toLong * slots) {
      ps.readPartZonePruned("trend_15m", "entity_id", sortedIds(lo), sortedIds(lo + w - 1)).get
        .agg(count(lit(1)), sum(col("c01")))
    }
    run("site_1h", Sites * 4L) {
      val recent = ps.readPartRange("trend_15m", end - 3600L, end).get
      tracer.span("operators", "EntityAggregation.aggregate")(
        EntityAggregation.aggregate(recent, relation, "entity_id", "timestamp",
          Seq(count(lit(1)).as("samples"), sum(col("c00")).as("c00"))))
    }
    val days = (0 until (slots + 3) / 4).map(h => hourOf(gen.ts(h * 4)) + 3600L)
      .map(l => Math.floorDiv(l, 86400L)).distinct.length
    run("history_1d", Entities.toLong * days) {
      val hours = ps.readPart("trend_1h").get
      tracer.span("operators", "TimeAggregation.rollup")(
        TimeAggregation.rollup(hours, "entity_id", "timestamp", 86400L,
          Seq(sum(col("samples")).as("samples"), sum(col("c00")).as("c00"))))
    }
  }

  def finish(): Unit = {
    val cols = "entity_id" +: "timestamp" +: gen.counterNames
    // 1. the 15m part holds the generator's last-write-wins rows
    val version = gen.finalVersions(cycles)
    val slots = gen.historySlots + cycles
    var sumH = BigInt(0)
    val vals = new Array[Long](cols.length)
    for (e <- 0 until Entities; slot <- 0 until slots) {
      val v = version(e, slot)
      vals(0) = gen.cellId(e); vals(1) = gen.ts(slot)
      var k = 0
      while (k < Counters) { vals(2 + k) = gen.value(e, slot, k, v); k += 1 }
      sumH += FrameHash.rowHash(vals)
    }
    val live = ps.readPart("trend_15m").get
    val got = FrameHash(live, cols)
    if (got != ((Entities.toLong * slots, BigDecimal(sumH))))
      ctx.log.failAll(s"15m part hash $got != generator's ${(Entities.toLong * slots, sumH)}")
    // 2. the incremental 1h part equals a from-scratch rollup of the 15m part
    val hCols = "entity_id" +: "timestamp" +: "samples" +: gen.counterNames
    val inc = FrameHash(ps.readPart("trend_1h").get, hCols)
    val scratch = FrameHash(TimeAggregation.rollup(live, "entity_id", "timestamp", 3600L,
      hourAggs), hCols)
    if (inc != scratch) ctx.log.failAll(s"1h part hash $inc != from-scratch rollup $scratch")
    // 3. notifications are exactly the planted crossings of every hour a
    // cycle touched, with the final hourly sum as weight
    val touched = (0 until cycles).flatMap(gen.deliveries).map(_.slot / 4).distinct
    val want = (for (h <- touched; e <- 0 until Entities) yield {
      val s = (h * 4 until math.min(h * 4 + 4, slots)).map(sl => gen.value(e, sl, 0, version(e, sl))).sum
      if (s > TrendGen.Threshold) Some((gen.cellId(e), gen.ts(h * 4) + 3600L, s)) else None
    }).flatten.toSet
    val planted = (for (h <- touched; e <- 0 until Entities if gen.planted(e, h)) yield 1).length
    val stored = ns.read().map(_.select("entity_id", "timestamp", "weight").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet).getOrElse(Set.empty)
    if (stored != want || want.size != planted)
      ctx.log.failAll(s"notifications: stored ${stored.size}, expected ${want.size}, planted $planted")
    notificationsRaw = spark.read.parquet(s"${ctx.work}/notification/c00_high").count()
  }

  def measured(): Unit = {
    bytesPerRow = Files.bytes(base).toDouble / (Entities.toLong * (gen.historySlots + cycles))
    filesPerPart = ps.filesPerPartition("trend_15m")
  }
  private var notificationsRaw = 0L
  private var bytesPerRow = 0.0
  private var filesPerPart = 0.0

  def inputDigest: String = digest.hex

  private def pick(traced: Boolean): Seq[Double] =
    cycleTimes.zip(cycleTraced).collect { case (t, tr) if tr == traced => t }.toSeq
  private def queryMs(traced: Boolean): Seq[Double] =
    queryTimes.collect { case (t, tr) if tr == traced => t * 1000 }.toSeq

  def endToEnd(traced: Boolean): Seq[(String, Metric)] = {
    val ts = pick(traced)
    val rows = if (traced) rowsLoaded - rowsLoadedUntraced else rowsLoadedUntraced
    Seq(
      "op_p50_s" -> Metric(Stats.median(ts), "s"),
      // over the cycles and the dashboard mixes after them, so a layout
      // change that speeds writes and slows reads shows in a bounded metric
      "items_per_s" -> Metric(rows / (ts.sum + queryMs(traced).sum / 1000), "1/s"),
      "store_bytes_per_row" -> Metric(bytesPerRow, "B/row"))
  }

  def workloadMetrics(traced: Boolean): Seq[(String, Metric)] = {
    val ts = pick(traced)
    val qs = queryMs(traced)
    val rows = if (traced) rowsLoaded - rowsLoadedUntraced else rowsLoadedUntraced
    Seq(
      "harvest_rows_per_s" -> Metric(rows / ts.sum, "rows/s"),
      "cycle_p50_s" -> Metric(Stats.median(ts), "s"),
      "query_p50_ms" -> Metric(Stats.median(qs), "ms"),
      "query_p90_ms" -> Metric(Stats.quantile(qs, 0.9), "ms"),
      "store_bytes_per_row" -> Metric(bytesPerRow, "B/row"),
      "cycles" -> Metric(ts.length, "count"),
      "queries" -> Metric(qs.length, "count"))
  }

  def layerFigures(s: TraceSummary): Seq[(String, Metric)] = {
    val k = "cycle"
    val n = math.max(1, s.ops(k)).toDouble
    val chunks = s.counter("operators.chunks_run") / n
    val qk = (q: String) => s"query.$q"
    Seq(
      "sources.read_s" -> Metric(s.selfPerOp(k, s.named("sources")) + s.csvPerOp(k), "s"),
      "sources.jobs" -> Metric(s.csvJobsPerOp(k), "count"),
      "sources.bytes_in" -> Metric(s.csvBytesPerOp(k), "B"),
      "operators.resolve_s" -> Metric(s.selfPerOp(k, s.named("operators", "EntityResolution.resolveHash")), "s"),
      "operators.materialize_s" -> Metric(s.selfPerOp(k, s.named("operators",
        "Materialization.fingerprint", "MaterializationRunner.run", "TimeAggregation.rollup")), "s"),
      "operators.chunks_run" -> Metric(chunks, "count"),
      // every chunk the runner recomputes should hold new or restated rows:
      // the generator's touched hours per cycle over the chunks recomputed
      "operators.chunk_useful_ratio" -> Metric(
        if (chunks == 0) 0.0 else s.counter("operators.chunks_useful") / n / chunks, "ratio"),
      "operators.trigger_s" -> Metric(s.selfPerOp(k, s.named("operators", "TriggerOps.createNotifications")), "s"),
      "operators.notifications" -> Metric(notificationsRaw.toDouble / cycles, "count"),
      "operators.query_agg_s" -> Metric(Seq("site_1h", "history_1d").map(q =>
        s.selfPerOp(qk(q), s.named("operators"))).sum / 2, "s"),
      "storage.store_s" -> Metric(s.selfPerOp(k, s.named("storage", "PartStore.store")), "s"),
      "storage.store_calls" -> Metric(s.counter("storage.store_calls") / n, "count"),
      "storage.partitions_swapped" -> Metric(s.counter("storage.partitions_swapped") / n, "count"),
      "storage.write_amp" -> Metric(s.counter("storage.bytes_written") / s.counter("input_bytes"), "ratio"),
      "storage.files_per_partition" -> Metric(filesPerPart, "count"),
      "storage.notify_store_s" -> Metric(s.selfPerOp(k, s.named("storage", "NotificationStore.store")), "s")) ++
      QueryKinds.map(q => s"storage.read_s.$q" -> Metric(s.selfPerOp(qk(q), s.named("storage")), "s")) ++
      s.spark(k) ++ Seq(
      "query.p50_ms" -> Metric(Stats.median(queryMs(false)), "ms"),
      "query.p90_ms" -> Metric(Stats.quantile(queryMs(false), 0.9), "ms"))
  }
}

object TrendLive {
  val Entities = 500
  val Counters = 20
  val Sites = 40
  val HistoryDays = 3
  val RedeliverEvery = 3
  val WarmupCycles = 1
  val MinCycles = 2
  val QueryRounds = 1
  val QueryKinds = Seq("entity_24h", "id_range", "site_1h", "history_1d")

  def hourOf(sec: Long): Long = sec - Math.floorMod(sec, 3600L)
}
