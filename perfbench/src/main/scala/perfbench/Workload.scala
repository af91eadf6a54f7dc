package perfbench

import java.io.File

/** One benchmark workload: a closed loop in which the driver thread
  * issues one operation at a time. */
trait Workload {
  def name: String

  /** Fewest timed cycles in a run, however long they take. */
  def minCycles: Int

  /** Writes the seeded inputs under `dir`; returns (rows, bytes). */
  def generate(ctx: Ctx, dir: File): (Long, Long)

  /** Loads the generated inputs (the last `generate` call's `dir`). */
  def prepare(ctx: Ctx, dir: File): Unit

  /** One round of the workload's operations, in a fixed order. */
  def cycle(ctx: Ctx): Unit

  /** Extra cost measurements that run only in a traced run. */
  def floors(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double] = Map.empty

  /** The workload's own figures for the report line, by name:
    * (value, unit, samples). */
  def report(ctx: Ctx): Seq[(String, Double, String, Int)]

  /** Per-layer metrics drawn from the traced section. */
  def layers(ctx: Ctx, log: JobLog, spans: Seq[Span]): Map[String, Double]

  /** Operation kinds whose medians make up one cycle. */
  def kinds(ctx: Ctx): Seq[String]

  /** Clears figures accumulated beside the timing samples. */
  def reset(): Unit = ()

  def close(ctx: Ctx): Unit = ()
}

object Files {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  /** Data part files of a written directory (no checksums or markers). */
  def parts(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part")).sortBy(_.getName)

  /** Every regular file under `f`. */
  def walk(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.flatMap(walk)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
