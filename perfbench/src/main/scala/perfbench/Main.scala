package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** The benchmark's metric lists. Every run prints all end-to-end metrics
  * (untraced) or all per-layer metrics (traced); a per-layer metric a
  * workload does not exercise reads 0. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "items_per_s" -> "1/s", "store_bytes_per_row" -> "B/row")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.jobs" -> "count", "sources.bytes_in" -> "B",
    "operators.resolve_s" -> "s", "operators.materialize_s" -> "s",
    "operators.chunks_run" -> "count", "operators.chunk_useful_ratio" -> "ratio",
    "operators.trigger_s" -> "s", "operators.notifications" -> "count",
    "operators.query_agg_s" -> "s",
    "storage.store_s" -> "s", "storage.store_calls" -> "count",
    "storage.partitions_swapped" -> "count", "storage.write_amp" -> "ratio",
    "storage.files_per_partition" -> "count", "storage.notify_store_s" -> "s",
    "storage.read_s.entity_24h" -> "s", "storage.read_s.id_range" -> "s",
    "storage.read_s.site_1h" -> "s", "storage.read_s.history_1d" -> "s",
    "storage.state_bytes_per_doc" -> "B/doc",
    "functions.append_s" -> "s", "functions.jobs_per_append" -> "count",
    "functions.dup_recall" -> "ratio", "functions.dup_precision" -> "ratio",
    "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_commit_ms" -> "ms", "streaming.state_memory_bytes" -> "B",
    "streaming.watermark_drop_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.executor_cpu_s" -> "s", "spark.plan_ms" -> "ms",
    "spark.driver_gap_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB",
    "query.p50_ms" -> "ms", "query.p90_ms" -> "ms", "stream.microbatch_p90_s" -> "s",
    "trace.overhead.op_p50_s" -> "s", "trace.overhead.items_per_s" -> "1/s")
}

/** Runs one workload: `--workload NAME --seed N --seconds S --trace 0|1
  * --out DIR`. Prints a report, then the result as one JSON line. With
  * `--trace 1` every other operation is traced; the untraced ones give the
  * baseline for the tracing overhead, and the spans and per-layer summary
  * are written under DIR. Exits 1 when any output check fails. */
object Main {
  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    if (argv.headOption.contains("--train")) train(argv(2))
    val args = Args.parse(argv.toSeq) match {
      case Right(a) => a
      case Left(err) => System.err.println(s"perfbench: $err"); sys.exit(2)
    }
    val work = new java.io.File(s"${args.outDir}/work-${args.workload}")
    Files.deleteTree(work)
    work.mkdirs()
    val spark = Session.create(work.getPath)
    val code =
      try run(args, spark, entry, work.getPath)
      finally { spark.stop(); Files.deleteTree(work) }
    sys.exit(code)
  }

  /** `--train --out DIR`: set-up, warm-up and checks of every workload in
    * a single JVM, run when the benchmark is built so the JVM can record the classes
    * a run loads into a class-data sharing archive. Later runs map the
    * archive instead of loading and verifying those classes again, which
    * shortens start-up and leaves the measured work unchanged. */
  private def train(out: String): Nothing = {
    val work = new java.io.File(s"$out/train")
    Files.deleteTree(work)
    val spark = Session.create(work.getPath)
    try Args.Workloads.foreach { w =>
      run(Args(w, 0L, 1, trace = true, out), spark, System.nanoTime(), s"${work.getPath}/$w",
        steps = Some(0))
    } finally { spark.stop(); Files.deleteTree(work) }
    sys.exit(0)
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def run(args: Args, spark: org.apache.spark.sql.SparkSession, entry: Long, work: String,
          steps: Option[Int] = None): Int = {
    val tracer = new Tracer(spark)
    val engine = if (args.trace) Some(new EngineListener) else None
    engine.foreach { l => spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    val log = new OpLog
    val sessionS = secs(entry)
    val ctx = new Ctx(spark, tracer, args.seed, work, log)
    val wl: Workload = args.workload match {
      case "trend_live" => new TrendLive(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case "stream_rollup" => new StreamRollup(ctx)
    }
    val prep0 = System.nanoTime()
    wl.prepare()
    val prepS = secs(prep0)
    val warm0 = System.nanoTime()
    wl.warmup()
    val warmS = secs(warm0)
    val setupS = secs(entry)

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    val loop0 = System.nanoTime()
    var i = 0
    val least = if (args.trace) wl.traceSteps else wl.minSteps
    while (steps.fold(i < least || System.nanoTime() < deadline)(i < _)) {
      wl.step(i, traced = args.trace && i % 2 == 0, counted = i < least)
      i += 1
      if (i == least) wl.measured()
    }
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    val loopS = secs(loop0)
    val finish0 = System.nanoTime()
    wl.finish()
    wl.close()
    org.apache.spark.BusDrain(spark.sparkContext)
    if (steps.contains(0)) return 0

    println(s"# workload ${args.workload} seed ${args.seed} seconds ${args.seconds} " +
      s"trace ${if (args.trace) 1 else 0} cores ${Session.cores}")
    println(s"# input_digest ${wl.inputDigest} (set-up and warm-up inputs)")
    println(f"# phases: session $sessionS%.2f s, prepare $prepS%.2f s, " +
      f"warm-up $warmS%.2f s, loop $loopS%.2f s ($i steps, first $least counted), " +
      f"checks ${secs(finish0)}%.2f s")
    val e2e = ("setup_s" -> Metric(setupS, "s")) +: wl.endToEnd(traced = false)
    (e2e ++ wl.workloadMetrics(traced = false)).foreach { case (k, m) =>
      println(f"metric $k%-22s ${m.value}%14.6f ${m.unit}")
    }
    println(f"metric op_fail_ratio          ${log.failed.toDouble / log.attempted}%14.6f ratio " +
      s"(${log.failed} of ${log.attempted} operations)")
    log.failures.take(20).foreach(f => println(s"# FAILED $f"))

    val metrics: Seq[(String, Metric)] =
      if (!args.trace) e2e
      else {
        val l = engine.get
        val summary = new TraceSummary(tracer.spans, l.stages, l.jobs, l.planning,
          tracer.counter, tracer.tracedOps)
        val overhead = wl.endToEnd(traced = true).zip(wl.endToEnd(traced = false))
          .collect { case ((k, t), (_, u)) if k != "store_bytes_per_row" =>
            s"trace.overhead.$k" -> Metric(t.value - u.value, t.unit) }
        val wOverhead = wl.workloadMetrics(traced = true).zip(wl.workloadMetrics(traced = false))
          .map { case ((k, t), (_, u)) => k -> (t.value, u.value, t.unit) }
        val given = (wl.layerFigures(summary) ++ overhead ++ Seq(
          "jvm.gc_s" -> Metric(gcS, "s"), "jvm.peak_heap_mb" -> Metric(peakMb, "MB"))).toMap
        writeTrace(args, summary, wOverhead)
        Metrics.PerLayer.map { case (k, unit) =>
          val m = given.getOrElse(k, Metric(0.0, unit))
          require(m.unit == unit, s"metric $k measured in ${m.unit}, declared in $unit")
          k -> m
        }
      }
    val result = Json.obj(Seq(
      "correct" -> (if (log.failed == 0) "true" else "false"),
      "attempted" -> log.attempted.toString,
      "failed" -> log.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })))
    println(result)
    if (log.failed == 0) 0 else 1
  }

  /** Spans file and per-layer summary of a traced run. */
  private def writeTrace(args: Args, s: TraceSummary,
                         overhead: Seq[(String, (Double, Double, String))]): Unit = {
    val dir = new java.io.File(s"${args.outDir}/trace-${args.workload}-seed${args.seed}")
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "spans.jsonl").toPath,
      s.spanLines.toSeq.asJava)
    val text = Json.obj(Seq(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "note" -> Json.str("Self time is span duration minus child-span cover. Operators " +
        "return lazy frames, so their execution lands in the storage call or action that " +
        "runs them; the stages that scan the harvest CSV are counted to sources wherever " +
        "they ran. Every other operation is traced; overhead is traced minus untraced."),
      "module_self_s" -> Json.obj(s.moduleSelf.map { case (m, v) => m -> Json.num(v) }),
      "tracing_overhead" -> Json.obj(overhead.map { case (k, (t, u, unit)) =>
        k -> Json.obj(Seq("traced" -> Json.num(t), "untraced" -> Json.num(u),
          "overhead" -> Json.num(t - u), "unit" -> Json.str(unit)))
      }),
      "spans" -> s.table.mkString("[", ", ", "]")))
    java.nio.file.Files.writeString(new java.io.File(dir, "summary.json").toPath, text)
    println(s"# trace written to ${dir.getPath}")
    overhead.foreach { case (k, (t, u, unit)) =>
      println(f"# overhead $k%-20s traced $t%.6f untraced $u%.6f $unit")
    }
  }
}
