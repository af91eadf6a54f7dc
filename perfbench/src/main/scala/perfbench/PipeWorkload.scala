package perfbench

import java.io.{File, RandomAccessFile}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.{Merge, Pipe, PipeFormat}

/** `pipe`: the paper's three verbs over one seeded relation in FLAT, CSV
  * and XML. Per cycle and format: `Pipe.out` writes parts, `Merge`
  * concatenates them (FLAT, CSV), and `Pipe.in` reads one large single
  * file, so every split starts and ends inside a record; FLAT adds one
  * selective read through the pushed-down filter. */
final class PipeWorkload(rows: Long) extends Workload {
  val name = "pipe"
  val minCycles = 2
  private val layout = Gen.pipeLayout
  val formats: Seq[(String, PipeFormat)] = Seq(
    "flat" -> PipeFormat.Flat,
    "csv" -> PipeFormat.Csv(terminator = "|\n"),
    "xml" -> PipeFormat.Xml())

  private var source: DataFrame = _
  private var sourceDigest: Digest = _
  private var filterDigest: Digest = _
  private var out: File = _
  private var xmlFile: File = _
  // bytes per operation kind, summed over the recorded samples
  private val moved = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var partsWritten = Map.empty[String, Int]
  private var fileBytes = Map.empty[String, Long]

  // a selective predicate on a pushable integer field: ~2% of rows
  private val filter = col("i4").between(-50000000, 35000000)

  def generate(ctx: Ctx, dir: File): (Long, Long) = {
    Gen.pipeRelation(ctx.spark, ctx.seed, rows, ctx.cores)
      .write.mode("overwrite").parquet(new File(dir, "source").getPath)
    val bytes = Files.bytes(new File(dir, "source"))
    (rows, bytes)
  }

  def prepare(ctx: Ctx, dir: File): Unit = {
    // 2 MB splits: each single-file read plans several splits, and each
    // split's ends fall inside a record, so every read exercises the
    // record-boundary search
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", 2L << 20)
    source = ctx.spark.read.parquet(new File(dir, "source").getPath).cache()
    sourceDigest = Digest.xorOf(source)
    Check.equal("source rows", sourceDigest.rows, rows)
    filterDigest = Digest.xorOf(source.filter(filter))
    out = new File(dir, "out")
    // the XML read input: one well-formed file holding every row
    xmlFile = new File(dir, "single.xml")
    Pipe.outAndMerge(source, xmlFile.getPath, layout, PipeFormat.Xml())
    fileBytes += "xml" -> xmlFile.length()
  }

  private def kindsOf(f: String): Seq[String] = f match {
    case "flat" => Seq("Pipe.flat.out", "Merge.flat", "Pipe.flat.in", "FlatFilterEval.in")
    case "csv" => Seq("Pipe.csv.out", "Merge.csv", "Pipe.csv.in")
    case _ => Seq("Pipe.xml.out", "Pipe.xml.in")
  }

  def kinds(ctx: Ctx): Seq[String] = formats.flatMap(f => kindsOf(f._1))

  def cycle(ctx: Ctx): Unit = formats.foreach { case (f, fmt) =>
    write(ctx, f, fmt)
    if (f != "xml") merge(ctx, f)
    read(ctx, f, fmt)
    if (f == "flat") filtered(ctx)
  }

  private def partsDir(f: String) = new File(out, s"$f-parts")
  /** The single file `Pipe.in` reads for format `f`. */
  def singleFile(f: String): File = if (f == "xml") xmlFile else new File(out, s"$f.single")

  /** `Pipe.out` to part files; FLAT parts must hold exactly rows × recLen. */
  def write(ctx: Ctx, f: String, fmt: PipeFormat): Unit = {
    ctx.op(s"Pipe.$f.out") {
      Pipe.out(source, partsDir(f).getPath, layout, fmt)
      val ps = Files.parts(partsDir(f))
      val n = ps.map(_.length).sum
      if (f == "flat") Check.equal("FLAT part bytes", n, rows * layout.recLen)
      Check.that(s"$f parts written", ps.nonEmpty && n > 0)
      partsWritten += f -> ps.size
      if (ctx.recording) moved(s"Pipe.$f.out") += n
    }
    ctx.probeIfDue()
  }

  /** `Merge.mergeParts`; the merged length must equal Σ part lengths. */
  def merge(ctx: Ctx, f: String): Unit = {
    ctx.op(s"Merge.$f") {
      val partBytes = Files.parts(partsDir(f)).map(_.length).sum
      val merged = singleFile(f)
      val n = Merge.mergeParts(ctx.spark, partsDir(f).getPath, merged.getPath)
      Check.equal(s"$f merged bytes", n, partBytes)
      Check.equal(s"$f merged file length", merged.length(), partBytes)
      fileBytes += f -> n
      if (ctx.recording) moved(s"Merge.$f") += n
    }
    ctx.probeIfDue()
  }

  /** `Pipe.in` of the single file, every column hashed; the digest must
    * equal the source's. */
  def read(ctx: Ctx, f: String, fmt: PipeFormat): Unit = {
    val input = singleFile(f)
    ctx.op(s"Pipe.$f.in") {
      Check.equal(s"$f read-back digest",
        Digest.xorOf(Pipe.in(ctx.spark, input.getPath, layout, fmt)), sourceDigest)
      if (ctx.recording) moved(s"Pipe.$f.in") += input.length()
    }
    ctx.probeIfDue()
  }

  /** The selective FLAT read through the pushed-down filter. */
  def filtered(ctx: Ctx): Unit = {
    val input = singleFile("flat")
    ctx.op("FlatFilterEval.in") {
      Check.equal("filtered FLAT digest",
        Digest.xorOf(Pipe.in(ctx.spark, input.getPath, layout, PipeFormat.Flat).filter(filter)),
        filterDigest)
      if (ctx.recording) moved("FlatFilterEval.in") += input.length()
    }
    ctx.probeIfDue()
  }

  private def rate(ctx: Ctx, kinds: String*): (Double, Int) = {
    val secs = kinds.flatMap(k => ctx.samples.getOrElse(k, Nil)).sum
    val n = kinds.map(k => ctx.samples.get(k).map(_.size).getOrElse(0)).sum
    (if (secs > 0) Stats.mbPerS(kinds.map(moved).sum, secs) else 0.0, n)
  }

  def report(ctx: Ctx): Seq[(String, Double, String, Int)] = {
    def mb(metric: String, ks: String*) = {
      val (v, n) = rate(ctx, ks: _*); (metric, v, "MB/s", n)
    }
    Seq(
      mb("flat_in_mb_s", "Pipe.flat.in", "FlatFilterEval.in"),
      mb("flat_out_mb_s", "Pipe.flat.out"),
      mb("csv_in_mb_s", "Pipe.csv.in"),
      mb("csv_out_mb_s", "Pipe.csv.out"),
      mb("xml_in_mb_s", "Pipe.xml.in"),
      mb("xml_out_mb_s", "Pipe.xml.out"),
      mb("merge_mb_s", "Merge.flat", "Merge.csv"))
  }

  // ---- traced-run floors ----------------------------------------------

  private def med3(body: => Unit): Double =
    Stats.median(Seq.fill(3) { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 })

  /** Reads `file` as raw bytes in `n` equal ranges, one task each. */
  private def readRaw(ctx: Ctx, file: File, n: Int): Unit = {
    val path = file.getPath
    val len = file.length()
    ctx.spark.sparkContext.parallelize(0 until n, n).map { i =>
      val (a, b) = (len * i / n, len * (i + 1) / n)
      val raf = new RandomAccessFile(path, "r")
      try {
        raf.seek(a)
        val buf = new Array[Byte](1 << 20)
        var left = b - a
        while (left > 0) {
          val k = raf.read(buf, 0, math.min(buf.length.toLong, left).toInt)
          left -= (if (k < 0) left else k)
        }
      } finally raf.close()
      b - a
    }.sum()
  }

  /** Writes `bytes` raw bytes in `n` tasks, one file each. */
  private def writeRaw(ctx: Ctx, dir: File, bytes: Long, n: Int): Unit = {
    Files.delete(dir); dir.mkdirs()
    val d = dir.getPath
    ctx.spark.sparkContext.parallelize(0 until n, n).foreach { i =>
      val os = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new File(d, s"raw_$i")), 1 << 20)
      try {
        val buf = Array.fill[Byte](1 << 16)(i.toByte)
        var left = bytes / n
        while (left > 0) {
          val k = math.min(buf.length.toLong, left).toInt
          os.write(buf, 0, k); left -= k
        }
      } finally os.close()
    }
  }

  override def floors(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    val hash = med3(Digest.xorOf(source))
    val src = med3(source.queryExecution.toRdd.count())
    val per = formats.flatMap { case (f, fmt) =>
      val input = singleFile(f)
      val n = Pipe.in(ctx.spark, input.getPath, layout, fmt).rdd.getNumPartitions
      val readS = med3(readRaw(ctx, input, n))
      val partBytes = Files.parts(partsDir(f)).map(_.length).sum
      val writeS = med3(writeRaw(ctx, new File(out, "raw"), partBytes,
        partsWritten.getOrElse(f, ctx.cores)))
      Seq(s"Pipe.$f.partitions" -> n.toDouble,
        s"Pipe.$f.read_bytes_s" -> readS,
        s"Pipe.$f.decode_s" -> (ctx.median(s"Pipe.$f.in").getOrElse(0.0) - readS - hash),
        s"Pipe.$f.write_bytes_s" -> writeS,
        s"Pipe.$f.encode_s" -> (ctx.median(s"Pipe.$f.out").getOrElse(0.0) - writeS - src))
    }
    Files.delete(new File(out, "raw"))
    (per ++ Seq("Pipe.hash_floor_s" -> hash, "Pipe.source_floor_s" -> src)).toMap
  }

  def layers(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = {
    val jobs = log.jobRecs
    val byId = spans.map(s => s.id -> s).toMap
    def under(kind: String): Set[Int] = spans.filter(_.name == kind).map(_.id).toSet
    // jobs submitted inside any span of `kind` (or a span below it)
    def readBytes(kind: String): Long = {
      val ids = under(kind)
      def inside(sp: Int): Boolean =
        sp >= 0 && (ids(sp) || byId.get(sp).exists(s => inside(s.parent)))
      log.stageStats(jobs.filter(j => inside(j.span))).map(_.bytesRead).sum
    }
    def amplification(kind: String, f: String): Double = {
      val n = ctx.samples.get(kind).map(_.size).getOrElse(0)
      if (n == 0) 0.0 else readBytes(kind).toDouble / (fileBytes.getOrElse(f, 1L) * n)
    }
    val flatRows = ctx.samples.get("FlatFilterEval.in").map(_.size).getOrElse(0)
    formats.map { case (f, _) =>
      s"Pipe.$f.read_amplification" -> amplification(s"Pipe.$f.in", f)
    }.toMap ++ Map(
      "Merge.concat_s" -> Stats.median(Seq("Merge.flat", "Merge.csv")
        .flatMap(ctx.median)),
      "Merge.parts" -> partsWritten.getOrElse("flat", 0).toDouble,
      "FlatFilterEval.filter_read_s" -> ctx.median("FlatFilterEval.in").getOrElse(0.0),
      "FlatFilterEval.rows_out_ratio" -> filterDigest.rows.toDouble / rows,
      "FlatFilterEval.bytes_read_ratio" ->
        (if (flatRows == 0) 0.0 else amplification("FlatFilterEval.in", "flat")))
  }

  override def reset(): Unit = moved.clear()

  override def close(ctx: Ctx): Unit = if (source != null) source.unpersist()
}
