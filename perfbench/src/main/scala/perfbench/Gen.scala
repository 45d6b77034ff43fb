package perfbench

/** Seeded input generators. Every value is a pure function of the seed and
  * its coordinates (see [[Mix]]), so a seed fixes the inputs byte for byte,
  * and the generators also know the answers the output checks compare
  * against. */

/** `trend_live`: cells linked to sites, one 15-minute harvest CSV per cycle
  * for every cell, and on every `redeliverEvery`-th cycle a re-delivered
  * file restating a quarter of the cells for an interval up to 3 days back.
  * Re-deliveries land in full history days, so every seed's re-delivery
  * rewrites a partition of the same size. Counter 0 carries planted spikes: a planted (cell, hour) gets a value
  * above the trigger threshold in the hour's first interval, and no other
  * hour can cross it. */
final class TrendGen(
    val seed: Long, val entities: Int, val counters: Int, val historyDays: Int,
    val sites: Int, val redeliverEvery: Int) {
  import TrendGen._
  val historySlots: Int = historyDays * SlotsPerDay

  def ts(slot: Int): Long = T0 + slot * SlotSec
  def cellName(e: Int): String = f"cell-$e%06d"
  def siteOf(e: Int): Int = e % sites
  /** Entity ids as hash resolution allocates them: abs(xxhash64(type, name)). */
  def cellId(e: Int): Long = math.abs(FrameHash.stringHash(Seq("cell", cellName(e))))
  def siteId(s: Int): Long = math.abs(FrameHash.stringHash(Seq("site", f"site-$s%04d")))
  def counterNames: Seq[String] = (0 until counters).map(k => f"c$k%02d")

  def planted(e: Int, hour: Int): Boolean = Mix.below(1000, seed, 7, e, hour) < 4

  def value(e: Int, slot: Int, k: Int, version: Int): Long = {
    val base = Mix.below(1000, seed, 1, e, slot, k, version)
    if (k == 0 && slot % 4 == 0 && planted(e, slot / 4)) Threshold * 2 + base else base
  }

  /** One harvest file: `slot` restated at `version` for the cells that
    * `includes` selects. Version 0 is the first delivery. */
  final case class Delivery(slot: Int, version: Int, cycle: Int) {
    def includes(e: Int): Boolean = version == 0 || Mix.below(4, seed, 3, cycle, e) == 0
    def cells: Seq[Int] = (0 until entities).filter(includes)
  }

  def deliveries(cycle: Int): Seq[Delivery] = {
    val cur = historySlots + cycle
    val first = Delivery(cur, 0, cycle)
    if (cycle % redeliverEvery != redeliverEvery - 1) Seq(first)
    else {
      val oldest = math.max(0, cur - 3 * SlotsPerDay)
      val slot = oldest + Mix.below(historySlots - oldest, seed, 2, cycle).toInt
      Seq(first, Delivery(slot, cycle + 1, cycle))
    }
  }

  /** Wall-clock second at which a cycle's files are dropped. */
  def dropSec(cycle: Int): Long = ts(historySlots + cycle) + SlotSec + 60

  def header: String = ("cell" +: "ts" +: counterNames).mkString(",")

  private def row(sb: StringBuilder, e: Int, slot: Int, version: Int): Unit = {
    sb.append(cellName(e)).append(',').append(isoUtc(ts(slot)))
    var k = 0
    while (k < counters) { sb.append(',').append(value(e, slot, k, version)); k += 1 }
    sb.append('\n')
  }

  def csv(d: Delivery): String = {
    val sb = new StringBuilder(header).append('\n')
    d.cells.foreach(e => row(sb, e, d.slot, d.version))
    sb.toString
  }

  def historyCsv(day: Int): String = {
    val sb = new StringBuilder(header).append('\n')
    (day * SlotsPerDay until (day + 1) * SlotsPerDay).foreach { slot =>
      (0 until entities).foreach(e => row(sb, e, slot, 0))
    }
    sb.toString
  }

  /** The version of (cell, slot) a last-write-wins store must hold after
    * `cycles` cycles. */
  def finalVersions(cycles: Int): (Int, Int) => Int = {
    val restated = (0 until cycles).flatMap(deliveries).filter(_.version > 0)
      .groupBy(_.slot)
    (e, slot) => restated.get(slot).toSeq.flatten.filter(_.includes(e))
      .map(_.version).foldLeft(0)(math.max)
  }
}

object TrendGen {
  val SlotSec = 900L
  val SlotsPerDay = 96
  /** 2023-11-14T00:00:00Z, a day boundary. */
  val T0 = 1699920000L
  /** Trigger threshold on an hour's summed counter 0. Normal hours sum to
    * at most 4 × 999; a planted spike alone exceeds it. */
  val Threshold = 5000L

  def isoUtc(sec: Long): String =
    java.time.format.DateTimeFormatter.ISO_INSTANT.format(java.time.Instant.ofEpochSecond(sec))
}

/** `corpus_dedup`: batches of synthetic documents over a Zipf vocabulary,
  * with lengths spread from short to long. A fixed share of each batch are
  * planted near-duplicates (a copy of an earlier document with a few tokens
  * replaced), drawn half from the same batch and half from earlier ones.
  * The seed permutes which documents take which role and length, so every
  * batch of every seed has the same number of duplicates and the same
  * spread of fresh-document lengths: seeds change the content, not the
  * amount of work. */
final class CorpusGen(val seed: Long, val batchSize: Int) {
  import CorpusGen._
  private val cdf: Array[Double] = {
    val w = (1 to Vocab).map(r => 1.0 / math.pow(r, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def word(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, Vocab - 1)
  }

  /** A document: its id, its tokens, and the id it copies if planted. */
  final case class Doc(id: Long, tokens: Array[Int], source: Option[Long]) {
    def text: String = tokens.iterator.map(t => s"w$t").mkString(" ")
  }

  private val cache = scala.collection.mutable.Map.empty[Long, Doc]

  def idOf(batch: Int, i: Int): Long = batch.toLong * batchSize + i + 1

  private val dupsPerKind = math.round(batchSize * DupShare / 2).toInt
  private val slots = scala.collection.mutable.Map.empty[Int, Array[Int]]
  /** Position of each document of batch `b` in a seeded permutation. */
  private def slotOf(b: Int, i: Int): Int = slots.getOrElseUpdate(b, {
    val order = (0 until batchSize).sortBy(j => Mix(seed, 10, b, j))
    val slot = new Array[Int](batchSize)
    order.zipWithIndex.foreach { case (j, s) => slot(j) = s }
    slot
  })(i)

  def doc(id: Long): Doc = cache.getOrElseUpdate(id, {
    val b = ((id - 1) / batchSize).toInt
    val i = ((id - 1) % batchSize).toInt
    val s = slotOf(b, i)
    val source =
      // the batch's first document has no earlier one to copy; it stays fresh
      if (s < dupsPerKind && i > 0) Some(idOf(b, Mix.below(i, seed, 12, id).toInt))
      else if (s >= dupsPerKind && s < 2 * dupsPerKind && b > 0)
        Some(1 + Mix.below(idOf(b, 0) - 1, seed, 13, id))
      else None
    val tokens = source match {
      case Some(s) =>
        doc(s).tokens.zipWithIndex.map { case (t, j) =>
          if (Mix.unit(seed, 14, id, j) < EditRate) word(Mix.unit(seed, 15, id, j)) else t
        }
      case None =>
        val u = (s + 0.5) / batchSize
        val len = MinLen + (u * u * (MaxLen - MinLen)).toInt
        Array.tabulate(len)(j => word(Mix.unit(seed, 17, id, j)))
    }
    Doc(id, tokens, source)
  })

  def batch(b: Int): Seq[Doc] = (0 until batchSize).map(i => doc(idOf(b, i)))
}

object CorpusGen {
  val Vocab = 20000
  val ZipfS = 1.1
  val MinLen = 20
  val MaxLen = 400
  /** Share of documents planted as near-duplicates. */
  val DupShare = 0.12
  /** Share of a near-duplicate's tokens replaced. */
  val EditRate = 0.05
}

/** `stream_rollup`: counter events in fixed-size micro-batches. Event time
  * advances one window per batch, so every batch closes a window and the
  * sink merges once per batch; a share of events arrives out of order but
  * inside the allowed lateness, and a small share lands in windows the
  * watermark has already closed. The generator tracks the watermark exactly
  * as the engine defines it (max event time of earlier batches minus the
  * lateness), so it knows which events the engine must drop. */
final class StreamGen(val seed: Long, val entities: Int, val eventsPerBatch: Int) {
  import StreamGen._
  /** (entity, event second, value, inside the lateness bound) */
  final case class Event(entity: Long, sec: Long, v: Long, inside: Boolean)

  private var maxSeen = Long.MinValue
  private var nextBatch = 0

  /** Batches must be drawn in order: each one's late events depend on the
    * watermark the earlier ones set. */
  def next(): Seq[Event] = {
    val n = nextBatch
    nextBatch += 1
    val clock = T0 + (n + 1) * StepSec
    val wm = if (n == 0) None else Some(maxSeen - LatenessSec)
    // out-of-order events lie after the watermark, so their windows are
    // still open; late events lie in windows that end at or before it
    val oooLo = wm.map(_ + 1)
    val lateTop = wm.map(w => Math.floorDiv(w, Window) * Window).filter(_ - Window >= T0)
    val nLate = if (lateTop.isDefined) math.round(eventsPerBatch * LateShare).toInt else 0
    val events = (0 until eventsPerBatch).map { i =>
      val v = Mix.below(1000, seed, 21, n, i)
      if (i < nLate) {
        // one late event per entity, so each is its own (entity, window)
        // group and the engine's drop count equals the events dropped
        val closed = math.min(4, (lateTop.get - T0) / Window)
        val w = lateTop.get - Window * (1 + Mix.below(closed, seed, 22, n, i))
        Event(i.toLong, w + Mix.below(Window, seed, 23, n, i), v, inside = false)
      } else {
        val e = Mix.below(entities, seed, 24, n, i)
        val ooo = Mix.unit(seed, 25, n, i) < OooShare && oooLo.exists(_ < clock - StepSec)
        val sec =
          if (ooo) oooLo.get + Mix.below(clock - StepSec - oooLo.get, seed, 26, n, i)
          else clock - StepSec + Mix.below(StepSec, seed, 27, n, i)
        Event(e, sec, v, inside = true)
      }
    }
    maxSeen = math.max(maxSeen, events.map(_.sec).max)
    events
  }

  /** An event far enough ahead to close every window fed so far; its
    * entity is outside the generated range so checks can leave it out. */
  def flushEvent: Event = Event(-1L, maxSeen + LatenessSec + 2 * Window, 0L, inside = false)
}

object StreamGen {
  val T0 = 1699920000L
  val StepSec = 900L
  val Window = 900L
  val LatenessSec = 600L
  val OooShare = 0.1
  val LateShare = 0.01
}
