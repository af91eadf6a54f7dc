package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `board`: the heaviest queries of each operator pack, on seeded tables.
  * Each query splits into build (the query function), plan
  * (`executedPlan`) and exec (materializing every output row). */
final class BoardWorkload extends Workload {
  val name = "board"
  // two passes: each query's median then halves one pass's transient noise
  val minCycles = 2

  /** The query list, by pack: a heavy query of each pack, plus q15 as a
    * probe of per-query fixed cost. The list is short because every
    * query carries about half a second of fixed cost at any data size and
    * twice that on its first, cold, run. Left out: the Similarity pack
    * (its queries cost 2-3 s each), and queries that write under a fixed
    * path outside their data directory (q35, d08, d15, p12, p17, t14 and
    * the Formats pack), since the benchmark reads and writes only inside
    * its own tree. */
  val ids: Seq[(String, Seq[String])] = Seq(
    "Relational" -> Seq("q03", "q15"),
    "EventOps" -> Seq("q30"),
    "Dedup" -> Seq("d05"),
    "TextAnalysis" -> Seq("t06"),
    "Multimodal" -> Seq("m08"),
    "Pipeline" -> Seq("p06"))

  private val packObjects: Map[String, graft.QueryPack] = Map(
    "Relational" -> graft.operators.Relational,
    "EventOps" -> graft.operators.EventOps,
    "Dedup" -> graft.operators.Dedup,
    "TextAnalysis" -> graft.operators.TextAnalysis,
    "Multimodal" -> graft.operators.Multimodal,
    "Pipeline" -> graft.operators.Pipeline)

  /** (pack, query key, query function) in board order. */
  lazy val queries: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    ids.flatMap { case (pack, qs) =>
      val all = packObjects(pack).queries
      qs.map { id =>
        val key = all.keys.filter(_.startsWith(id + "_")).toSeq match {
          case Seq(k) => k
          case other => throw new IllegalStateException(s"query $id resolves to $other")
        }
        (pack, key, all(key))
      }
    }

  private var dataDir: String = _
  val digests = mutable.Map.empty[String, Digest]
  private val catalyst = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var passes = 0

  def generate(ctx: Ctx, dir: File): (Long, Long) = {
    val rows = Gen.writeBoard(ctx.spark, ctx.seed, dir.getPath)
    (rows, Files.bytes(dir))
  }

  def prepare(ctx: Ctx, dir: File): Unit = dataDir = dir.getPath

  def kinds(ctx: Ctx): Seq[String] = queries.map(_._2)

  /** Runs one query as one operation; checks its digest against the
    * first one seen for it (the warm pass). */
  def run(ctx: Ctx, key: String, q: (SparkSession, String) => DataFrame): Unit =
    ctx.op(key) {
      val df = ctx.phase(s"$key.build")(q(ctx.spark, dataDir))
      val qe = df.queryExecution
      ctx.phase(s"$key.plan")(qe.executedPlan)
      val d = ctx.phase(s"$key.exec")(Digest.ofExecution(qe))
      if (ctx.recording) qe.tracker.phases.foreach { case (p, s) =>
        catalyst(p) += s.durationMs / 1e3
      }
      Check.equal(s"$key digest vs first pass", d, digests.getOrElseUpdate(key, d))
    }

  def cycle(ctx: Ctx): Unit = {
    queries.foreach { case (_, key, q) => run(ctx, key, q); ctx.probeIfDue() }
    if (ctx.recording) passes += 1
  }

  private def medians(ctx: Ctx): Seq[Double] = queries.flatMap(q => ctx.median(q._2))

  def report(ctx: Ctx): Seq[(String, Double, String, Int)] = {
    val m = medians(ctx)
    val n = queries.map(q => ctx.samples.get(q._2).map(_.size).getOrElse(0)).sum
    Seq(("board_s", m.sum, "s", n),
      ("query_geomean_s", if (m.isEmpty) 0.0 else Stats.geomean(m), "s", n))
  }

  def layers(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    val jobs = log.jobRecs
    val spanName = spans.map(s => s.id -> s.name).toMap
    val jobsPerSpan = jobs.groupBy(j => spanName.getOrElse(j.span, "")).map {
      case (n, js) => n -> js.size
    }
    val p = math.max(passes, 1).toDouble
    val perPack = ids.flatMap { case (pack, _) =>
      val keys = queries.filter(_._1 == pack).map(_._2)
      def phaseSum(ph: String) = keys.flatMap(k => ctx.median(s"$k.$ph")).sum
      def jobSum(ph: String) = keys.map(k => jobsPerSpan.getOrElse(s"$k.$ph", 0)).sum / p
      Seq(s"operators.$pack.build_s" -> phaseSum("build"),
        s"operators.$pack.plan_s" -> phaseSum("plan"),
        s"operators.$pack.exec_s" -> phaseSum("exec"),
        s"operators.$pack.build_jobs" -> jobSum("build"),
        s"operators.$pack.exec_jobs" -> jobSum("exec"))
    }
    (perPack ++ Seq(
      "catalyst.analysis_s" -> catalyst("analysis") / p,
      "catalyst.optimization_s" -> catalyst("optimization") / p,
      "catalyst.planning_s" -> catalyst("planning") / p)).toMap
  }

  override def reset(): Unit = { catalyst.clear(); passes = 0 }
}

object BoardWorkload {
  /** Σ of every recorded query build+plan+exec sample ÷ Σ of those
    * queries' wall times: how much of the board the phase split accounts
    * for (0 when the run has no board queries). */
  def phaseCoverage(ctx: Ctx): Double = {
    val keys = ctx.samples.keys.filter(k => ctx.samples.contains(s"$k.build")).toSeq
    val phases = keys.flatMap(k => Seq("build", "plan", "exec")
      .flatMap(ph => ctx.samples.getOrElse(s"$k.$ph", Nil))).sum
    val wall = keys.flatMap(k => ctx.samples.getOrElse(k, Nil)).sum
    if (wall > 0) phases / wall else 0.0
  }
}
