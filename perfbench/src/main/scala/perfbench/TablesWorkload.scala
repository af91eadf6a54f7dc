package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Snapshots

/** Reference model of the table: live rows by key, and the digest of
  * every version published. Its digest matches [[Digest.xorOf]] over
  * (id, grp, text, n). */
final class TableModel {
  val rows = mutable.TreeMap.empty[Long, (Int, String, Long)]
  val versions = mutable.LinkedHashMap.empty[Int, Digest]

  def digest(keys: Iterable[Long] = rows.keys): Digest = {
    var h = 0L
    var n = 0L
    keys.foreach { k =>
      val (g, t, c) = rows(k)
      h ^= TableModel.hash(k, g, t, c); n += 1
    }
    Digest(n, h)
  }
}

object TableModel {
  /** Spark's xxhash64(id, grp, text, n) for non-null values. */
  def hash(id: Long, grp: Int, text: String, n: Long): Long = {
    var h = XXH64.hashLong(id, 42L)
    h = XXH64.hashInt(grp, h)
    val s = UTF8String.fromString(text)
    h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, h)
    XXH64.hashLong(n, h)
  }

  val schema: StructType = StructType(Seq(StructField("id", LongType),
    StructField("grp", IntegerType), StructField("text", StringType),
    StructField("n", LongType)))

  def rawBytes(rows: Iterable[(Long, Int, String, Long)]): Long =
    rows.map(r => 20L + r._3.getBytes("UTF-8").length).sum
}

/** `tables`: snapshot-table commits beside reads. Each cycle appends,
  * upserts, deletes, updates and inserts through SQL, then reads the
  * head, the version of one cycle earlier, and a key range through
  * `readPruned`. A traced run adds SQL MERGE INTO, one streaming epoch (a
  * `graft-snapshots` source tailing a side table into a
  * `graft-snapshots` sink) and a compaction. */
final class TablesWorkload(initial: Int, batch: Int) extends Workload {
  val name = "tables"
  val minCycles = 1
  private val model = new TableModel
  private var wh: File = _
  private var dir: String = _
  private var side: String = _
  private var sink: String = _
  private var cp: String = _
  private var nextKey = 0L
  private var cycleNo = 0
  private var sideRows = 0L
  private var sideDigest = 0L
  private var rnd: java.util.SplittableRandom = _
  private val stats = Seq("id")
  // per verb kind: fs operations, bytes written, bytes of rows touched
  private val fsOps = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val written = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val touched = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var prunedFiles = (0, 0)
  val streamLog = new StreamLog

  val commitKinds = Seq("Snapshots.append", "Snapshots.upsert", "Snapshots.delete",
    "Snapshots.update", "GraftSql.insert")
  private val heavyKinds = Seq("GraftSql.merge", "SnapshotSource.epoch", "Snapshots.compact")
  val readKinds = Seq("Snapshots.read.head", "Snapshots.read.travel",
    "Snapshots.read.pruned")
  def kinds(ctx: Ctx): Seq[String] = commitKinds ++ readKinds

  private val Words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")
  private def words(): String =
    Seq.fill(3 + rnd.nextInt(10))(Words(rnd.nextInt(Words.size))).mkString(" ")

  private def newRows(k: Int): Seq[(Long, Int, String, Long)] =
    (0 until k).map { _ => nextKey += 1; (nextKey, rnd.nextInt(16), words(), 0L) }

  /** Half of the rows replace live keys, half are new keys. */
  private def mixedRows(k: Int): Seq[(Long, Int, String, Long)] = {
    val live = model.rows.keysIterator.toIndexedSeq
    val matched = new scala.util.Random(rnd.nextLong()).shuffle(live).take(k / 2).sorted
    matched.map { key =>
      val (g, _, c) = model.rows(key); (key, g, words(), c + 1)
    } ++ newRows(k - matched.size)
  }

  private def frame(ctx: Ctx, rows: Seq[(Long, Int, String, Long)]): DataFrame =
    ctx.spark.createDataFrame(rows.map { case (a, b, c, d) => Row(a, b, c, d) }.asJava,
      TableModel.schema)

  private def put(rows: Seq[(Long, Int, String, Long)]): Unit =
    rows.foreach { case (k, g, t, c) => model.rows(k) = (g, t, c) }

  private def published(ctx: Ctx): Unit =
    model.versions(Snapshots.latestVersion(ctx.spark, dir)) = model.digest()

  /** Writes the initial rows as plain parquet; [[prepare]] builds the
    * table's history from them. */
  def generate(ctx: Ctx, d: File): (Long, Long) = {
    Files.delete(d); d.mkdirs()
    model.rows.clear(); model.versions.clear(); nextKey = 0
    rnd = Gen.rng(ctx.seed, 20, 0)
    val rows = newRows(initial)
    frame(ctx, rows).write.parquet(new File(d, "initial").getPath)
    (rows.size.toLong, Files.bytes(d))
  }

  def prepare(ctx: Ctx, d: File): Unit = {
    wh = new File(d, "wh")
    dir = new File(wh, "bench/t").getPath
    side = new File(d, "side").getPath
    sink = new File(d, "sink").getPath
    cp = new File(d, "sink_cp").getPath
    sideRows = 0; sideDigest = 0
    val initialRows = ctx.spark.read.parquet(new File(d, "initial").getPath)
    Snapshots.commit(ctx.spark, dir, initialRows, append = false, statsCols = stats)
    put(initialRows.collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))))
    published(ctx)
    ctx.spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    ctx.spark.conf.set("spark.sql.catalog.graft.warehouse", wh.getPath)
    if (ctx.traced) ctx.spark.streams.addListener(streamLog)
  }

  private def fsOpCount(): Long = FsOps.count

  /** A commit verb as one operation, with its fs-op and byte deltas. */
  private def verb(ctx: Ctx, kind: String, rowsTouched: Long, record: Boolean = true)(
      body: => Unit): Unit = {
    val before = (fsOpCount(), Files.bytes(new File(dir)) + Files.bytes(new File(sink)))
    ctx.op(kind, record)(body)
    if (ctx.recording) {
      fsOps(kind) += fsOpCount() - before._1
      written(kind) += Files.bytes(new File(dir)) + Files.bytes(new File(sink)) - before._2
      touched(kind) += rowsTouched
    }
    ctx.probeIfDue()
  }

  def cycle(ctx: Ctx): Unit = {
    cycleNo += 1
    val s = ctx.spark

    val app = newRows(batch)
    verb(ctx, "Snapshots.append", TableModel.rawBytes(app)) {
      Snapshots.commit(s, dir, frame(ctx, app), append = true, statsCols = stats)
      put(app); published(ctx)
    }

    val ups = mixedRows(batch)
    verb(ctx, "Snapshots.upsert", TableModel.rawBytes(ups)) {
      val (_, replaced) = Snapshots.upsert(s, dir, frame(ctx, ups), Seq("id"), statsCols = stats)
      Check.equal("upsert replaced rows", replaced, ups.count(r => model.rows.contains(r._1)).toLong)
      put(ups); published(ctx)
    }

    // delete the oldest keys, so the live table stays about the same size
    val inflow = batch + batch / 2 + batch / 2
    val doomed = model.rows.keysIterator.take(inflow).toSeq
    val cutoff = doomed.last + 1
    verb(ctx, "Snapshots.delete",
      TableModel.rawBytes(doomed.map(k => (k, 0, model.rows(k)._2, 0L)))) {
      val (_, n) = Snapshots.deleteWhere(s, dir, col("id") < cutoff)
      Check.equal("deleted rows", n, doomed.size.toLong)
      doomed.foreach(model.rows.remove); published(ctx)
    }

    val g = cycleNo % 16
    val hit = model.rows.filter(_._2._1 == g).keys.toSeq
    verb(ctx, "Snapshots.update",
      TableModel.rawBytes(hit.map(k => (k, g, s"u$cycleNo", 0L)))) {
      val (_, n) = Snapshots.updateWhere(s, dir, col("grp") === g,
        Seq("text" -> lit(s"u$cycleNo"), "n" -> (col("n") + 1)))
      Check.equal("updated rows", n, hit.size.toLong)
      hit.foreach { k => val (gg, _, c) = model.rows(k); model.rows(k) = (gg, s"u$cycleNo", c + 1) }
      published(ctx)
    }

    val ins = newRows(batch / 2)
    frame(ctx, ins).createOrReplaceTempView("pb_insert")
    verb(ctx, "GraftSql.insert", TableModel.rawBytes(ins)) {
      s.sql("INSERT INTO graft.bench.t SELECT * FROM pb_insert")
      put(ins); published(ctx)
    }

    // MERGE, the stream epoch and compaction each cost several times a
    // Scala verb: a traced run warms them here and times each once after
    // its traced section (see floors)
    if (!ctx.recording && ctx.traced) heavy(ctx)

    reads(ctx)
  }

  /** SQL MERGE INTO, one stream epoch and a compaction. */
  private def heavy(ctx: Ctx): Unit = {
    val s = ctx.spark
    val mrg = mixedRows(batch / 2)
    frame(ctx, mrg).createOrReplaceTempView("pb_merge")
    verb(ctx, "GraftSql.merge", TableModel.rawBytes(mrg)) {
      s.sql("MERGE INTO graft.bench.t t USING pb_merge m ON t.id = m.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      put(mrg); published(ctx)
    }
    epoch(ctx)
    compact(ctx)
  }

  private def compact(ctx: Ctx): Unit =
    verb(ctx, "Snapshots.compact", TableModel.rawBytes(model.rows.map {
      case (k, (g, t, c)) => (k, g, t, c) })) {
      Snapshots.compact(ctx.spark, dir)
      published(ctx)
    }

  /** The heavy verbs, timed once each after the traced section. */
  override def floors(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    ctx.recording = true
    heavy(ctx)
    ctx.recording = false
    Map.empty
  }

  /** Commits one version to the side table (untimed), then runs the
    * stream for exactly one trigger; the sample is that trigger's
    * `triggerExecution` time. */
  private def epoch(ctx: Ctx): Unit = {
    val s = ctx.spark
    val rows = (0 until batch / 4).map { i =>
      val id = sideRows + i
      (id, (id % 16).toInt, s"side $id", 0L)
    }
    Snapshots.commit(s, side, frame(ctx, rows), append = sideRows > 0)
    sideRows += rows.size
    rows.foreach { case (a, b, c, d) => sideDigest ^= TableModel.hash(a, b, c, d) }
    verb(ctx, "SnapshotSource.epoch", TableModel.rawBytes(rows), record = false) {
      val q = s.readStream.format("graft-snapshots").option("path", side)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("graft-snapshots").option("path", sink)
        .option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
      val trig = Option(q.lastProgress).flatMap(p =>
        Option(p.durationMs.get("triggerExecution"))).map(_.longValue / 1e3)
      Check.that("stream epoch made progress", trig.isDefined)
      ctx.sample("SnapshotSource.epoch", trig.get)
      val v = Snapshots.latestVersion(s, sink)
      Check.equal("sink digest", Digest.xorOf(Snapshots.read(s, sink, v)),
        Digest(sideRows, sideDigest))
    }
  }

  /** Plans (read + executedPlan) and executes a digest of `df()`. */
  private def timedRead(ctx: Ctx, kind: String)(df: => DataFrame): Digest = {
    val q = ctx.phase(s"$kind.plan") {
      val q = Digest.xorFrame(df); q.queryExecution.executedPlan; q
    }
    ctx.phase(s"$kind.exec")(Digest.collect(q))
  }

  private def reads(ctx: Ctx): Unit = {
    val s = ctx.spark
    val head = Snapshots.latestVersion(s, dir)
    ctx.op("Snapshots.read.head") {
      Check.equal("head digest vs model", timedRead(ctx, "Snapshots.read.head")(
        Snapshots.read(s, dir, head)), model.digest())
    }
    ctx.probeIfDue()
    // the version published five commits earlier: never the session memo's
    val v = head - 5
    if (model.versions.contains(v)) {
      ctx.op("Snapshots.read.travel") {
        Check.equal(s"version $v digest", timedRead(ctx, "Snapshots.read.travel")(
          Snapshots.read(s, dir, v)), model.versions(v))
      }
      ctx.probeIfDue()
    }
    // the newest tenth of the key space
    val lo = nextKey - nextKey / 10
    ctx.op("Snapshots.read.pruned") {
      var files = (0, 0)
      val d = timedRead(ctx, "Snapshots.read.pruned") {
        val (df, f) = Snapshots.readPruned(s, dir, head, "id", lo, nextKey)
        files = f
        df.filter(col("id").between(lo, nextKey))
      }
      Check.equal("pruned read digest", d, model.digest(model.rows.range(lo, nextKey + 1).keys))
      if (ctx.recording) prunedFiles = (prunedFiles._1 + files._1, prunedFiles._2 + files._2)
    }
    ctx.probeIfDue()
  }

  private def pct(kinds: Seq[String], ctx: Ctx): Seq[Double] =
    kinds.flatMap(k => ctx.samples.getOrElse(k, Nil))

  def report(ctx: Ctx): Seq[(String, Double, String, Int)] = {
    val commits = pct(commitKinds, ctx)
    val reads = pct(readKinds, ctx)
    val tail = Stats.tail(commits, Seq(90, 80, 75))
    val plain = new File(new File(dir).getParentFile, "plain")
    frame(ctx, model.rows.map { case (k, (g, t, c)) => (k, g, t, c) }.toSeq)
      .coalesce(1).write.mode("overwrite").parquet(plain.getPath)
    val ratio = Stats.ratio(Files.bytes(new File(dir)).toDouble,
      Files.bytes(plain).toDouble)
    Files.delete(plain)
    Seq(("commit_p50_s", if (commits.isEmpty) 0.0 else Stats.median(commits), "s", commits.size),
    ) ++ tail.map { case (p, v) => (s"commit_p${p}_s", v, "s", commits.size) } ++ Seq(
      ("read_p50_s", if (reads.isEmpty) 0.0 else Stats.median(reads), "s", reads.size),
      ("table_bytes_ratio", ratio, "ratio", 1))
  }

  def layers(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    val jobs = log.jobRecs
    val byId = spans.map(s => s.id -> s).toMap
    def jobCount(kind: String): Double = {
      val ids = spans.filter(_.name == kind).map(_.id).toSet
      def inside(sp: Int): Boolean =
        sp >= 0 && (ids(sp) || byId.get(sp).exists(s => inside(s.parent)))
      val n = ctx.samples.get(kind).map(_.size).getOrElse(0)
      if (n == 0) 0.0 else jobs.count(j => inside(j.span)).toDouble / n
    }
    val perVerb = (commitKinds ++ heavyKinds).flatMap { k =>
      val n = ctx.samples.get(k).map(_.size).getOrElse(0).max(1)
      Seq(s"$k.p50_s" -> ctx.median(k).getOrElse(0.0),
        s"$k.jobs" -> jobCount(k),
        s"$k.fs_ops" -> fsOps(k).toDouble / n,
        s"$k.bytes_written_ratio" ->
          (if (touched(k) == 0) 0.0 else written(k).toDouble / touched(k)))
    }
    def m(k: String) = ctx.median(k).getOrElse(0.0)
    val progress = streamLog.durations.asScala.toSeq
    val stream = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets").map { ph =>
      val xs = progress.flatMap(_.get(ph)).map(_.toDouble)
      s"SnapshotSource.stream.${ph}_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
    val tableDir = new File(dir)
    val all = Files.walk(tableDir)
    val meta = all.filterNot(f => f.getName.endsWith(".parquet") || f.getName.startsWith("."))
    (perVerb ++ stream ++ Seq(
      "GraftSql.insert.overhead_s" -> (m("GraftSql.insert") - m("Snapshots.append")),
      "GraftSql.merge.overhead_s" -> (m("GraftSql.merge") - m("Snapshots.upsert")),
      "Snapshots.read.head_plan_s" -> m("Snapshots.read.head.plan"),
      "Snapshots.read.head_exec_s" -> m("Snapshots.read.head.exec"),
      "Snapshots.read.travel_plan_s" -> m("Snapshots.read.travel.plan"),
      "Snapshots.read.travel_exec_s" -> m("Snapshots.read.travel.exec"),
      "Snapshots.read.pruned_files_ratio" ->
        (if (prunedFiles._2 == 0) 0.0 else prunedFiles._1.toDouble / prunedFiles._2),
      "Snapshots.read.fs_ops" -> readFsOps(ctx),
      "Snapshots.files_live" -> Snapshots.readPruned(ctx.spark, dir,
        Snapshots.latestVersion(ctx.spark, dir), "id", Long.MinValue, Long.MaxValue)._2._2.toDouble,
      "Snapshots.files_total" -> all.count(_.getName.endsWith(".parquet")).toDouble,
      "Snapshots.metadata_bytes" -> meta.map(_.length).sum.toDouble)).toMap
  }

  /** Filesystem operations of one head read, measured once after the
    * traced section. */
  private def readFsOps(ctx: Ctx): Double = {
    val before = fsOpCount()
    Digest.xorOf(Snapshots.read(ctx.spark, dir, Snapshots.latestVersion(ctx.spark, dir)))
    (fsOpCount() - before).toDouble
  }

  override def reset(): Unit = {
    fsOps.clear(); written.clear(); touched.clear(); prunedFiles = (0, 0)
    streamLog.durations.clear()
  }

  override def close(ctx: Ctx): Unit = ctx.spark.streams.removeListener(streamLog)
}
