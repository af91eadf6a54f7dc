package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A failed output check. Non-fatal, so the operation that raised it
  * counts as failed like any other non-fatal error. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[A](what: String, got: A, want: A): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")

  def that(what: String, ok: Boolean): Unit =
    if (!ok) throw new CheckFailed(what)
}

/** State of one run: the session, the tracer, every timing sample, the
  * attempted / failed operation counts and the load probes. */
final class Ctx(val spark: SparkSession, var tracer: Tracer,
    val seed: Long, val cores: Int, val traced: Boolean) {

  /** Operation timings by kind, seconds; recorded while `recording`. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var recording = false
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** One operation of kind `kind`: timed, traced, and counted. Only
    * non-fatal errors (failed checks included) are caught and counted;
    * a fatal error aborts the run. With `record = false` the body records
    * its own sample under `kind`. */
  def op[T](kind: String, record: Boolean = true)(body: => T): Option[T] =
    tracer.operation {
      attempted += 1
      try {
        val (v, s) = tracer.timed(kind)(body)
        if (record) sample(kind, s)
        Some(v)
      } catch {
        case NonFatal(e) =>
          failed += 1
          if (errors.size < 20) errors += s"$kind: $e"
          System.err.println(s"[perfbench] $kind failed: $e")
          None
      }
    }

  /** A timed phase inside an operation; recorded under `name`. */
  def phase[T](name: String)(body: => T): T = {
    val (v, s) = tracer.timed(name)(body)
    sample(name, s)
    v
  }

  def sample(name: String, seconds: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  def median(name: String): Option[Double] =
    samples.get(name).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq))

  // ---- load probes and heap -------------------------------------------

  /** Calibration probe seconds, in the order taken. */
  val probes = mutable.ArrayBuffer.empty[Double]
  private var lastProbe = 0L
  var probeEveryNanos: Long = 3000000000L
  /** Highest heap in use just after a full GC at a probe, MB. */
  var peakHeapMb = 0.0

  /** Times a fixed job that spins every core, then records live heap
    * after a full GC. Run at the start, between operations at intervals,
    * and at the end of the timed section. */
  def probe(): Unit = {
    val n = cores
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(0 until n, n).map(Probe.spin).collect()
    probes += (System.nanoTime() - t0) / 1e9
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1e6)
    lastProbe = System.nanoTime()
  }

  def probeIfDue(): Unit =
    if (System.nanoTime() - lastProbe >= probeEveryNanos) probe()

  /** A run is quiet when no probe took more than 3x the fastest one. */
  def quiet: Boolean = probes.nonEmpty && probes.max <= 3 * probes.min
}

object Probe {
  /** About 50 ms of integer work on one core, never optimized away. */
  def spin(i: Int): Long = {
    var h = i.toLong
    var k = 0
    while (k < 50000000) { h = h * 6364136223846793005L + 1442695040888963407L; k += 1 }
    h
  }
}
