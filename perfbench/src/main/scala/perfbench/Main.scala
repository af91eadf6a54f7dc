package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * {{{
  *   Main --workload pipe|board|tables --seed N --seconds S --trace 0|1
  *        --work DIR [--commit ID] [--source-sha SHA]
  * }}}
  * Prints one report line (every figure by name, unit and sample count,
  * plus the run's identity and load verdict), then the result line. A
  * fatal error, or any failure outside a timed operation, aborts with a
  * non-zero exit and no result line.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, commit: String, sourceSha: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), m.getOrElse("commit", "unknown"),
      m.getOrElse("source-sha", "unknown"))
  }

  def workload(name: String): Workload = name match {
    case "pipe" => new PipeWorkload(rows = 60000)
    case "board" => new BoardWorkload
    case "tables" => new TablesWorkload(initial = 20000, batch = 1000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val ok = try { run(parse(args), entry); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        false
    }
    System.out.flush()
    // halt: a failed run must not wait on non-daemon engine threads
    if (!ok) Runtime.getRuntime.halt(1)
    sys.exit(0)
  }

  def run(o: Opts, entry: Long): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val wl = workload(o.workload)
    val base = new File(o.work, s"${o.workload}-${o.seed}")
    Files.delete(base); base.mkdirs()

    val spark = session(cores, base)
    val sessionS = (System.nanoTime() - entry) / 1e9
    val ctx = new Ctx(spark, new Tracer(false), o.seed, cores, o.trace)
    try {
      // set-up, repeated where it can be: input generation runs twice
      // into fresh directories and the median counts
      val gens = (1 to 2).map { k =>
        val dir = new File(base, s"input$k")
        val t = System.nanoTime()
        val size = wl.generate(ctx, dir)
        if (k > 1) Files.delete(new File(base, s"input${k - 1}"))
        (dir, size, (System.nanoTime() - t) / 1e9)
      }
      val (dir, (inRows, inBytes), _) = gens.last
      val generateS = Stats.median(gens.map(_._3))
      val tPrep = System.nanoTime()
      wl.prepare(ctx, dir)
      wl.cycle(ctx) // warm pass: JIT, codegen, footers, memo
      val warmS = (System.nanoTime() - tPrep) / 1e9
      val setupS = sessionS + generateS + warmS
      ctx.probe() // warms the probe job itself; not a sample
      ctx.probes.clear(); ctx.peakHeapMb = 0
      ctx.probeEveryNanos = math.max(1L, o.seconds * 1000000000L / 2)

      // the traced run first measures the same loop untraced, for half
      // the time, as the base of its tracing overhead
      val untracedCycle = if (o.trace) {
        val c = section(ctx, wl, o.seconds / 2.0, minCycles = 1)
        wl.reset(); ctx.samples.clear()
        Some(c._1)
      } else None

      val log = if (o.trace) {
        ctx.tracer = new Tracer(true, Some(spark.sparkContext))
        val l = new JobLog(ctx.tracer); spark.sparkContext.addSparkListener(l); Some(l)
      } else None
      FsOps.on = o.trace
      val gc0 = gcSeconds()
      val (cycleS, wallS) = section(ctx, wl, o.seconds, wl.minCycles)
      val gcS = gcSeconds() - gc0
      log.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
      val stages = log.map(_.allStages).getOrElse(Nil)

      val medians = wl.kinds(ctx).flatMap(ctx.median)
      val report = wl.report(ctx)
      val ident = Map("workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "commit" -> o.commit, "source_sha1" -> o.sourceSha, "nproc" -> cores,
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1000000,
        "spark" -> spark.version, "input_rows" -> inRows, "input_bytes" -> inBytes,
        "seconds" -> o.seconds, "timed_wall_s" -> wallS,
        "peak_heap_mb" -> ctx.peakHeapMb,
        "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens.map(_._3),
          "prepare_and_warm_s" -> warmS, "setup_s" -> setupS),
        "quiet" -> ctx.quiet, "probes_s" -> ctx.probes.toSeq,
        "attempted" -> ctx.attempted, "failed" -> ctx.failed,
        "error_rate" -> ctx.failed.toDouble / math.max(ctx.attempted, 1),
        "errors" -> ctx.errors.toSeq,
        "operations" -> wl.kinds(ctx).map(k => k -> Map(
          "median_s" -> ctx.median(k), "samples" -> ctx.samples.get(k).map(_.size).getOrElse(0))).toMap,
        "figures" -> report.map { case (n, v, u, c) =>
          n -> Map("value" -> v, "unit" -> u, "samples" -> c) }.toMap) ++
        Map("phase_coverage" -> BoardWorkload.phaseCoverage(ctx))

      val metrics: Seq[(String, Double, String)] = log match {
        case None =>
          val v = Map("setup_s" -> setupS, "cycle_s" -> medians.sum,
            "op_geomean_s" -> Stats.geomean(medians))
          Metrics.endToEnd.map { case (n, u) => (n, v(n), u) }
        case Some(l) =>
          val floors = wl.floors(ctx, l, ctx.tracer.spans)
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          val spans = ctx.tracer.spans
          val layers = wl.layers(ctx, l, spans) ++ floors ++ Map(
            "executor.tasks" -> stages.map(_.tasks).sum.toDouble,
            "executor.busy_share" -> stages.map(_.runMs).sum / 1e3 / (wallS * cores),
            "executor.gc_s" -> gcS,
            "executor.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / 1e6,
            "executor.spill_mb" -> stages.map(_.spill).sum / 1e6,
            "setup.session_s" -> sessionS, "setup.generate_s" -> generateS,
            "setup.warm_s" -> warmS,
            "trace.overhead_ratio" -> untracedCycle.map(u => cycleS / u - 1).getOrElse(0.0))
          val traceFile = new File(o.work, s"trace-${o.workload}-${o.seed}.json")
          java.nio.file.Files.writeString(traceFile.toPath, Trace.toJson(spans))
          Metrics.perLayer.map { case (n, u) => (n, layers.getOrElse(n, 0.0), u) }
      }
      println(s"""{"perfbench": ${Json.value(ident)}}""")
      println(Metrics.resultLine(ctx.attempted, ctx.failed, metrics))
    } finally {
      wl.close(ctx)
      spark.stop()
    }
  }

  /** Runs whole cycles until `seconds` have passed (at least `minCycles`), with
    * load probes at the start, between operations and at the end.
    * Returns (Σ per-kind medians, wall seconds). */
  private def section(ctx: Ctx, wl: Workload, seconds: Double,
      minCycles: Int): (Double, Double) = {
    ctx.recording = true
    ctx.probe()
    val t0 = System.nanoTime()
    var cycles = 0
    while (cycles < minCycles || System.nanoTime() - t0 < seconds * 1e9) { wl.cycle(ctx); cycles += 1 }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.probe()
    ctx.recording = false
    (wl.kinds(ctx).flatMap(ctx.median).sum, wall)
  }
}
