package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  /** Everything the three generators hand the program for set-up, warm-up
    * and the first operations of a run. */
  private def inputs(seed: Long): String = {
    val d = new Digest
    val t = new TrendGen(seed, 50, 4, 3, 5, 3)
    d.add(t.historyCsv(0))
    (0 until 3).flatMap(t.deliveries).foreach(x => d.add(t.csv(x)))
    val c = new CorpusGen(seed, 40)
    (0 until 3).flatMap(c.batch).foreach(x => d.add(x.text))
    val s = new StreamGen(seed, 50, 200)
    (0 until 4).flatMap(_ => s.next()).foreach { e => d.add(e.entity); d.add(e.sec); d.add(e.v) }
    d.hex
  }

  test("the same seed gives the same inputs, another seed different ones") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("the stream generator's late events lie in windows its watermark closed") {
    val g = new StreamGen(3, 100, 1000)
    var maxSeen = Long.MinValue
    val late = (0 until 6).map { n =>
      val b = g.next()
      if (n > 0) {
        val wm = maxSeen - StreamGen.LatenessSec
        b.filterNot(_.inside).foreach { e =>
          assert(e.sec - Math.floorMod(e.sec, StreamGen.Window) + StreamGen.Window <= wm)
        }
        b.filter(_.inside).foreach(e => assert(e.sec > wm))
      }
      maxSeen = math.max(maxSeen, b.map(_.sec).max)
      b.count(!_.inside)
    }
    assert(late == Seq(0, 0, 10, 10, 10, 10))
  }

  test("self time is duration minus the union of the children's cover") {
    // root [0, 100) with children [10, 30) and [20, 50) (overlapping, as a
    // streaming thread's spans can be) and a grandchild [12, 18)
    val spans = Seq(
      Span(0, -1, 1, "bench", "op", 0, 100),
      Span(1, 0, 1, "storage", "a", 10, 30),
      Span(2, 0, 1, "operators", "b", 20, 50),
      Span(3, 1, 1, "sources", "c", 12, 18))
    val self = SpanMath.selfTimes(spans)
    assert(self == Map(0 -> 60L, 1 -> 14L, 2 -> 30L, 3 -> 6L))
    assert(SpanMath.covered(Seq((5L, 15L), (0L, 3L)), 2, 10) == 6)
  }

  test("per-operation self time sums the matching spans of traced operations") {
    val spans = Seq(
      Span(0, -1, 1, "bench", "cycle", 0, 1000000000L),
      Span(1, 0, 1, "storage", "PartStore.store", 0, 400000000L),
      Span(2, -1, 2, "bench", "cycle", 2000000000L, 3000000000L),
      Span(3, 2, 2, "storage", "PartStore.store", 2000000000L, 2200000000L))
    val s = new TraceSummary(spans, Nil, Nil, Nil, _ => 0.0, _ => 2)
    assert(math.abs(s.selfPerOp("cycle", s.named("storage")) - 0.3) < 1e-9)
    assert(math.abs(s.selfPerOp("cycle", s.named("bench")) - 0.7) < 1e-9)
  }

  test("a wrong output is counted as a failed operation, not passed") {
    val log = new OpLog
    log.record("good append")(CorpusDedup.checkBatch(Seq(1L, 2L), Seq(1L -> 1L, 2L -> 1L)))
    log.record("keeper above its document")(
      CorpusDedup.checkBatch(Seq(1L, 2L), Seq(1L -> 2L, 2L -> 2L)))
    log.record("document missing")(CorpusDedup.checkBatch(Seq(1L, 2L), Seq(1L -> 1L)))
    log.record("operation threw")(throw new IllegalStateException("boom"))
    log.record("near-dup recall below its floor")(CorpusDedup.checkQuality(0.0, 1.0))
    log.record("near-dup precision below its floor")(CorpusDedup.checkQuality(1.0, 0.0))
    log.record("near-dup quality at its floors")(
      CorpusDedup.checkQuality(CorpusDedup.RecallFloor, CorpusDedup.PrecisionFloor))
    assert(log.attempted == 7)
    assert(log.failed == 5)
    log.failAll("final state differs")
    assert(log.failed == 7)
  }

  test("BENCHMARK.json declares exactly the metrics a run prints") {
    import org.json4s._
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val json = org.json4s.jackson.JsonMethods.parse(text)
    def metrics(key: String) = (json \ key).children.map { m =>
      ((m \ "name").values.toString, (m \ "unit").values.toString)
    }
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
    assert((json \ "workloads").children.map(w => (w \ "name").values) == Args.Workloads)
  }
}
