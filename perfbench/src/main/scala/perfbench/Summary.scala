package perfbench

/** Per-layer figures of a traced run: spans, with the engine's jobs, stages
  * and planning phases attributed to them.
  *
  * Self time is a span's duration minus what its child spans cover. The
  * program's operators return lazy frames, so most of their execution lands
  * in the storage call or action that runs them. The one split made below
  * that is by stage: the stages that scan the harvest CSV count to
  * `sources`, and their run time (within the host span's self time) moves
  * from the host span to `sources`. */
final class TraceSummary(
    val spans: Seq[Span], stages: Seq[StageRec], jobs: Seq[(Int, Long, Option[Int])],
    planning: Seq[(Long, Long)], val counter: String => Double, val ops: String => Int) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val self = SpanMath.selfTimes(spans)
  private val rootOf: Map[Int, Span] = spans.filter(_.parent == -1).map(r => r.op -> r).toMap
  def kindOf(s: Span): String = rootOf.get(s.op).map(_.name).getOrElse("?")

  private def host(prop: Option[Int], tMs: Long) = Attribution.spanOf(spans, byId, prop, tMs)
  private val hostedStages: Seq[(StageRec, Span)] =
    stages.flatMap(st => host(st.spanProp, st.jobStartMs).map(st -> _))
  private val hostedJobs: Seq[(Int, Span)] =
    jobs.flatMap { case (id, t, p) => host(p, t).map(id -> _) }
  private val hostedPlans: Seq[(Long, Span)] =
    planning.flatMap { case (t, ms) => host(None, t).map(ms -> _) }
  private val csvJobs: Set[Int] = hostedStages.collect { case (st, _) if st.csvScan => st.jobId }.toSet

  private def ns(st: StageRec) = (st.submitMs * 1000000L, st.completeMs * 1000000L)
  /** CSV-scan stage time moved out of each host span's self time. */
  private val csvMoved: Map[Int, Long] =
    hostedStages.filter(_._1.csvScan).groupBy(_._2.id).map { case (id, xs) =>
      val s = byId(id)
      id -> math.min(self(id), SpanMath.covered(xs.map(x => ns(x._1)), s.startNs, s.endNs))
    }
  def selfNs(s: Span): Long = self(s.id) - csvMoved.getOrElse(s.id, 0L)

  private def n(kind: String): Double = math.max(1, ops(kind)).toDouble
  private def isUnder(s: Span, p: Span => Boolean): Boolean =
    p(s) || (s.parent >= 0 && byId.get(s.parent).exists(isUnder(_, p)))

  /** Self seconds per traced operation of `kind`, over spans matching `p`. */
  def selfPerOp(kind: String, p: Span => Boolean): Double =
    spans.filter(s => kindOf(s) == kind && p(s)).map(selfNs).sum / 1e9 / n(kind)
  /** CSV-scan stage seconds per traced operation of `kind`. */
  def csvPerOp(kind: String): Double =
    csvMoved.collect { case (id, t) if kindOf(byId(id)) == kind => t }.sum / 1e9 / n(kind)
  /** Jobs per traced operation of `kind` whose host span lies under a span
    * matching `p`. */
  def jobsPerOp(kind: String, p: Span => Boolean): Double =
    hostedJobs.count { case (_, s) => kindOf(s) == kind && isUnder(s, p) } / n(kind)
  def csvJobsPerOp(kind: String): Double =
    hostedJobs.count { case (j, s) => kindOf(s) == kind && csvJobs(j) } / n(kind)
  def csvBytesPerOp(kind: String): Double =
    hostedStages.collect { case (st, s) if st.csvScan && kindOf(s) == kind => st.bytesRead }
      .sum / n(kind)
  def named(module: String, names: String*): Span => Boolean =
    s => s.module == module && (names.isEmpty || names.contains(s.name))

  /** Engine figures per traced operation of `kind`. */
  def spark(kind: String): Seq[(String, Metric)] = {
    val st = hostedStages.filter { case (_, s) => kindOf(s) == kind }.map(_._1)
    val gaps = spans.filter(s => s.parent == -1 && s.name == kind).map { r =>
      val mine = hostedStages.collect { case (x, s) if s.op == r.op => ns(x) }
      r.durNs - SpanMath.covered(mine, r.startNs, r.endNs)
    }
    Seq(
      "spark.jobs" -> Metric(hostedJobs.count(j => kindOf(j._2) == kind) / n(kind), "count"),
      "spark.stages" -> Metric(st.length / n(kind), "count"),
      "spark.tasks" -> Metric(st.map(_.tasks).sum / n(kind), "count"),
      "spark.shuffle_read_bytes" -> Metric(st.map(_.shuffleRead).sum / n(kind), "B"),
      "spark.shuffle_write_bytes" -> Metric(st.map(_.shuffleWrite).sum / n(kind), "B"),
      "spark.spill_bytes" -> Metric(st.map(_.spill).sum / n(kind), "B"),
      "spark.executor_cpu_s" -> Metric(st.map(_.cpuNs).sum / 1e9 / n(kind), "s"),
      "spark.plan_ms" -> Metric(
        hostedPlans.collect { case (ms, s) if kindOf(s) == kind => ms }.sum / n(kind), "ms"),
      "spark.driver_gap_s" -> Metric(gaps.sum / 1e9 / n(kind), "s"))
  }

  /** Per (operation kind, module, span name): calls, self seconds, jobs,
    * stages and tasks, for the summary file. */
  def table: Seq[String] = {
    val stagesBySpan = hostedStages.groupBy(_._2.id)
    val jobsBySpan = hostedJobs.groupBy(_._2.id)
    spans.groupBy(s => (kindOf(s), s.module, s.name)).toSeq.sortBy(_._1).map {
      case ((k, m, name), ss) =>
        val st = ss.flatMap(s => stagesBySpan.getOrElse(s.id, Nil)).map(_._1)
        Json.obj(Seq(
          "op" -> Json.str(k), "module" -> Json.str(m), "span" -> Json.str(name),
          "calls" -> Json.num(ss.length),
          "self_s" -> Json.num(ss.map(selfNs).sum / 1e9),
          "csv_stage_s_moved_to_sources" -> Json.num(ss.map(s => csvMoved.getOrElse(s.id, 0L)).sum / 1e9),
          "jobs" -> Json.num(ss.map(s => jobsBySpan.getOrElse(s.id, Nil).length).sum),
          "stages" -> Json.num(st.length),
          "tasks" -> Json.num(st.map(_.tasks).sum),
          "executor_cpu_s" -> Json.num(st.map(_.cpuNs).sum / 1e9)))
    }
  }

  /** Self seconds per module over every traced operation, CSV stages
    * counted to `sources`. */
  def moduleSelf: Seq[(String, Double)] = {
    val bySpan = spans.groupBy(_.module).map { case (m, ss) => m -> ss.map(selfNs).sum / 1e9 }
    val moved = csvMoved.values.sum / 1e9
    (bySpan + ("sources" -> (bySpan.getOrElse("sources", 0.0) + moved))).toSeq.sortBy(_._1)
  }

  def spanLines: Iterator[String] = spans.iterator.map(s => Json.obj(Seq(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
    "op_kind" -> Json.str(kindOf(s)), "module" -> Json.str(s.module),
    "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
    "end_ns" -> s.endNs.toString, "self_ns" -> selfNs(s).toString)))
}
