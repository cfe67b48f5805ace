package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark driver. One process runs one workload:
  *
  *   generate seeded inputs -> Sessions.local(nproc) -> untimed warm-up ->
  *   timed iterations for `--seconds` -> output checks -> result line.
  *
  * With `--trace 1` untraced and traced iterations alternate (traced: spans
  * around each library call plus the benchmark's own listeners); the
  * per-layer metrics come from the traced iterations, and the tracing
  * overhead from each traced wall against its untraced neighbours.
  *
  * Stdout carries two JSON lines: a `detail` object (every named metric
  * with unit and sample count, environment, checks, span table) and, last,
  * the result object `{correct, attempted, failed, metrics}`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, gates: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("gates")))
  }

  val workloads: Seq[String] = Seq("medallion_etl", "corpus_curation", "gate_suite")

  /** Untimed iterations before the first timed one (part of `setup_s`). */
  val warmups = 2

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val env0 = Env.snapshot()
    val nproc = Runtime.getRuntime.availableProcessors()

    val tSession = System.nanoTime()
    val spark = graft.core.Sessions.local(nproc, appName = s"perfbench-${a.workload}")
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val wl: Workload = a.workload match {
      case "medallion_etl" => new MedallionEtl(spark, a.work, a.seed)
      case "corpus_curation" => new CorpusCuration(spark, a.work, a.seed)
      case "gate_suite" =>
        val names = scala.io.Source.fromFile(a.gates).getLines()
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
        new GateSuite(spark, a.work, a.seed, names)
    }
    val tGen = System.nanoTime()
    wl.generate()
    val genS = (System.nanoTime() - tGen) / 1e9

    var ops = 0L; var failedOps = 0L
    def iterate(i: Int, t: Tracer): (Double, IterOut) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val out = t("bench.iteration") { wl.iterate(i, t) }
      val wall = (System.nanoTime() - t0) / 1e9
      ops += out.ops; failedOps += out.failedOps
      (wall, out)
    }
    /** Runs `body` with a fresh listener attached. The bus is drained before
      * attaching and before detaching, so the listener sees the events of
      * `body` and of nothing else.
      */
    def recorded[A](body: => A): (A, Recorder) = {
      val sc = spark.sparkContext
      PerfbenchBus.drain(sc)
      val rec = new Recorder
      sc.addSparkListener(rec)
      spark.listenerManager.register(rec)
      try (body, rec)
      finally {
        PerfbenchBus.drain(sc)
        spark.listenerManager.unregister(rec)
        sc.removeSparkListener(rec)
      }
    }

    val off = new Tracer(false)
    val tWarm = System.nanoTime()
    var iter = 0
    (0 until warmups).foreach { _ => iterate(iter, off); wl.afterIteration(iter, off); iter += 1 }
    val warmupS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS

    // timed iterations: at least `--seconds` and at least three, so the
    // median never rests on the first timed iteration, which is still
    // warming (with two, the median is their mean). Traced runs alternate
    // untraced and traced iterations U T U T ... U, at least three traced,
    // so every traced iteration has an untraced one on either side and the
    // overhead has two pairs after the first (see Stats.pairedOverheads).
    val walls = ArrayBuffer[Double]()
    val opSamples = ArrayBuffer[Double]()
    val tracedWalls = ArrayBuffer[Double]()
    val perIter = ArrayBuffer[Map[String, Double]]()
    val perSpan = ArrayBuffer[Map[String, Seq[Double]]]()
    val t0 = System.nanoTime()
    def more = walls.size < 3 || System.nanoTime() - t0 < a.seconds * 1e9 ||
      (a.trace && (tracedWalls.size < 3 || walls.size <= tracedWalls.size))
    while (more) {
      if (!a.trace || walls.size <= tracedWalls.size) {
        val (w, out) = iterate(iter, off)
        wl.afterIteration(iter, off)
        walls += w; opSamples ++= out.opSamples
      } else {
        // the iteration and the untimed probes after it each get their own
        // listener, so the per-layer totals cover the iteration only
        val tracer = new Tracer(true)
        val ((w, _), rec) = recorded(iterate(iter, tracer))
        val iterSpans = tracer.spans.toSeq
        val (_, probeRec) = recorded(wl.afterIteration(iter, tracer))
        tracedWalls += w
        val (it, spans) = Layers.iteration(iterSpans, rec, nproc)
        perIter += it
        val probes = Accounting.spanStats(tracer.spans.drop(iterSpans.size).toSeq, probeRec)
        perSpan += spans ++ Layers.bySpan(probes)
      }
      iter += 1
    }
    val overheads = if (a.trace) Stats.pairedOverheads(walls.toSeq, tracedWalls.toSeq) else Nil

    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    val spanTable = mutable.LinkedHashMap[String, Map[String, Double]]()
    if (a.trace) {
      def med(k: String) = Stats.median(perIter.map(_.getOrElse(k, 0.0)).toSeq)
      layer("core.session_s") = (sessionS, "s")
      layer("core.warmup_s") = (warmupS, "s")
      Layers.units.foreach { case (k, u) => layer(k) = (med(k), u) }
      layer("trace.iter_s") = (Stats.median(tracedWalls.toSeq), "s")
      layer("mem.peak_rss_mb") = (Env.peakRssMb(), "MB")
      layer("trace.overhead_s") = (Stats.median(overheads), "s")
      perSpan.flatMap(_.keys).distinct.foreach { k =>
        spanTable(k) = Layers.spanFields.zipWithIndex.map { case (f, i) =>
          f -> Stats.median(perSpan.map(_.get(k).map(_(i)).getOrElse(0.0)).toSeq)
        }.toMap
      }
      wl.counters.foreach { case (k, v) => spanTable(k) = Map("value" -> Stats.median(v)) }
    }

    val checks = wl.checks
    val failedChecks = checks.filterNot(_.ok)
    val attempted = ops + checks.size
    val failed = failedOps + failedChecks.size
    val rssMb = Env.peakRssMb()
    val env1 = Env.snapshot()

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "iter_s" -> (Stats.median(walls.toSeq), "s"))
    val named = Seq(
      Metric("setup_s", setupS, "s", "lower", 1),
      Metric("iter_s", Stats.median(walls.toSeq), "s", "lower", walls.size),
      Metric("peak_rss_mb", rssMb, "MB", "lower", 1),
      Metric("failed_frac", failed.toDouble / attempted, "fraction", "lower", attempted.toInt)) ++
      wl.details(walls.toSeq, opSamples.toSeq)

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "items_per_iteration" -> wl.items, "item_unit" -> wl.itemUnit,
      "warmup_iterations" -> warmups, "timed_iterations" -> walls.size,
      "iteration_walls_s" -> walls.toSeq, "generate_s" -> genS,
      "metrics" -> named.map(m => mutable.LinkedHashMap("name" -> m.name, "value" -> m.value,
        "unit" -> m.unit, "better" -> m.better, "n" -> m.n)),
      "env" -> Env.describe(env0, env1, nproc),
      "workload_detail" -> wl.extra,
      "checks_evaluated" -> checks.size,
      "checks_failed" -> failedChecks.map(c => mutable.LinkedHashMap(
        "name" -> c.name, "detail" -> c.detail)))
    if (a.trace) {
      detail("traced_iteration_walls_s") = tracedWalls.toSeq
      detail("trace_overhead_samples_s") = overheads
      detail("spans") = spanTable
    }
    println(Json(mutable.LinkedHashMap("detail" -> detail)))

    val metrics = if (a.trace) layer else e2e
    println(Json(mutable.LinkedHashMap(
      "correct" -> (failedChecks.isEmpty && failedOps == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) })))
    System.out.flush()
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

/** Per-iteration layer metrics from the spans and listener records. */
object Layers {
  val spanFields: Seq[String] = Seq("wall_s", "self_s", "driver_s", "task_s", "stages_repeated", "calls")

  /** Per-layer metrics reported on every workload, with units. */
  val units: Seq[(String, String)] = Seq(
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "plan.executions" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.driver_s" -> "s", "spark.core_util" -> "fraction",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.tasks_failed" -> "count", "spark.stages_repeated" -> "count",
    "cache.peak_mb" -> "MB", "cache.blocks_written" -> "count",
    "trace.unattributed_s" -> "s")

  /** Span table rows: same-named spans are summed, with their count. */
  def bySpan(stats: Seq[SpanStats]): Map[String, Seq[Double]] =
    stats.groupBy(_.name).map { case (n, ss) =>
      n -> Seq(ss.map(_.wallS).sum, ss.map(_.selfS).sum, ss.map(_.driverS).sum,
        ss.map(_.taskS).sum, ss.map(_.stagesRepeated).sum.toDouble, ss.size.toDouble)
    }

  /** The layer metrics and span table of one traced iteration. Totals count
    * only the jobs, stages and query executions that started inside the
    * `bench.iteration` span.
    */
  def iteration(spans: Seq[Span], rec: Recorder,
      nproc: Int): (Map[String, Double], Map[String, Seq[Double]]) = rec.synchronized {
    val root = spans.find(_.name == "bench.iteration").get
    def inside(ms: Long) = ms >= root.startMs && ms <= root.endMs
    val stats = Accounting.spanStats(spans, rec)
    val rootStats = stats.find(_.name == "bench.iteration").get
    val mb = 1024.0 * 1024.0
    val jobs = rec.jobs.values.toSeq.filter(j => inside(j.startMs))
    val stageIds = jobs.flatMap(_.stages).toSet
    val stages = stageIds.toSeq.flatMap(rec.stageAgg.get)
    val plans = rec.plans.toSeq.filter(p => inside(p.startMs))
    val cache = rec.cacheEvents.toSeq
    val taskS = stages.map(_.runMs).sum / 1e3
    val wall = root.wallNs / 1e9
    val it = Map(
      "plan.analysis_ms" -> plans.map(_.analysisMs).sum.toDouble,
      "plan.optimization_ms" -> plans.map(_.optimizationMs).sum.toDouble,
      "plan.planning_ms" -> plans.map(_.planningMs).sum.toDouble,
      "plan.executions" -> plans.size.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> rec.stages.count(s => stageIds(s.id)).toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "spark.driver_s" -> rootStats.driverS,
      "spark.core_util" -> taskS / (wall * nproc),
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> stages.map(_.spill).sum / mb,
      "spark.input_mb" -> stages.map(_.input).sum / mb,
      "spark.output_mb" -> stages.map(_.output).sum / mb,
      "spark.tasks_failed" -> stages.map(_.failed).sum.toDouble,
      "spark.stages_repeated" -> stats.map(_.stagesRepeated).sum.toDouble,
      // the listener is attached for the iteration only (see Main.recorded)
      "cache.peak_mb" -> (cache.map(_._1) :+ 0L).max / mb,
      "cache.blocks_written" -> cache.count(_._2).toDouble,
      // iteration time outside every library-call span: the benchmark's own
      // work between calls
      "trace.unattributed_s" -> rootStats.selfS)
    (it, bySpan(stats))
  }
}

/** Host facts recorded with every result, and the contamination flag. */
object Env {
  final case class Snap(load: Double, stealTicks: Long, totalTicks: Long)

  def snapshot(): Snap = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val (s, t) = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.lift(7).getOrElse(0L), f.sum)
      } finally src.close()
    }.getOrElse((0L, 0L))
    Snap(load, s, t)
  }

  def peakRssMb(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    finally src.close()
  }.getOrElse(-1.0)

  def describe(a: Snap, b: Snap, nproc: Int): Map[String, Any] = {
    val steal = if (b.totalTicks > a.totalTicks)
      (b.stealTicks - a.stealTicks) * 100.0 / (b.totalTicks - a.totalTicks) else -1.0
    val hint =
      if (a.load > 1.5 * nproc) Some(f"load average ${a.load}%.2f at start is over 1.5 x " +
        s"$nproc cores: other work competed for CPUs; treat times as inflated")
      else if (steal > 3.0) Some(f"cpu steal $steal%.2f%% > 3%%: hypervisor contention " +
        "inflated wall times")
      else None
    Map("nproc" -> nproc, "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "load_avg_start" -> a.load, "load_avg_end" -> b.load, "cpu_steal_pct" -> steal,
      "contaminated_hint" -> hint,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.mkString(" "))
  }
}
