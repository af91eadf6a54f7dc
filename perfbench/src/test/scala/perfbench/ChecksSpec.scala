package perfbench

import java.io.{File, RandomAccessFile}
import java.nio.file.Files.createTempDirectory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, xxhash64}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PipeFormat

/** The output checks feed the failure count: a corrupted output must
  * count as a failed operation, never pass. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = createTempDirectory("perfbench-spec").toFile
  private lazy val spark = Main.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Files.delete(work)
  }

  private def ctx(s: SparkSession) = new Ctx(s, new Tracer(false), 7L, 2, traced = false)

  test("a byte flipped in a FLAT part counts as a failure") {
    val c = ctx(spark)
    val wl = new PipeWorkload(rows = 2000)
    val dir = new File(work, "pipe")
    wl.generate(c, dir)
    wl.prepare(c, dir)
    wl.cycle(c)
    assert(c.failed == 0, c.errors)
    val part = Files.parts(new File(dir, "out/flat-parts")).head
    def flip(): Unit = {
      val raf = new RandomAccessFile(part, "rw")
      try { raf.seek(50); val b = raf.read(); raf.seek(50); raf.write(b ^ 0x01) }
      finally raf.close()
    }
    // with its checksum file in place, the filesystem refuses the part
    flip()
    wl.merge(c, "flat")
    assert(c.failed == 1 && c.errors.last.contains("Checksum"), c.errors)
    // without one, the merge copies the bad byte and the digest catches it
    new File(part.getParentFile, s".${part.getName}.crc").delete()
    wl.merge(c, "flat")
    assert(c.failed == 1, c.errors)
    wl.read(c, "flat", PipeFormat.Flat)
    assert(c.failed == 2 && c.errors.last.contains("read-back digest"), c.errors)
  }

  test("an altered query digest fails the board check") {
    val c = ctx(spark)
    val wl = new BoardWorkload
    val q = (s: SparkSession, _: String) => s.range(100).toDF("id")
    wl.run(c, "t01_range", q)
    assert(c.failed == 0, c.errors)
    val d = wl.digests("t01_range")
    assert(d.rows == 100)
    wl.digests("t01_range") = d.copy(hash = d.hash + 1)
    wl.run(c, "t01_range", q)
    assert(c.failed == 1 && c.errors.last.contains("digest vs first pass"), c.errors)
  }

  test("only non-fatal errors count as failures") {
    val c = ctx(spark)
    assert(c.op("ok")(1).contains(1))
    assert(c.op("boom")(throw new RuntimeException("x")).isEmpty)
    assert(c.attempted == 2 && c.failed == 1)
    assertThrows[StackOverflowError](c.op("fatal")(throw new StackOverflowError()))
  }

  test("the table model hashes as Spark's xxhash64 does") {
    val row = (42L, 7, "alpha beta", 3L)
    val df = spark.createDataFrame(Seq(row)).toDF("id", "grp", "text", "n")
    val h = df.select(xxhash64(col("id"), col("grp"), col("text"), col("n"))).head.getLong(0)
    assert(h == TableModel.hash(row._1, row._2, row._3, row._4))
  }

  test("the execution digest ignores row order and last-bit float noise") {
    val a = spark.range(1, 1001).select((col("id") * 0.1).as("x"), expr("array(id, id + 1)").as("a"))
    val b = a.orderBy(col("x").desc).select((col("x") + 1e-13).as("x"), col("a"))
    assert(Digest.ofExecution(a.queryExecution) == Digest.ofExecution(b.queryExecution))
    assert(Digest.ofExecution(a.queryExecution) !=
      Digest.ofExecution(a.limit(999).queryExecution))
  }
}
