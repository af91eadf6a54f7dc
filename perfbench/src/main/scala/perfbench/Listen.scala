package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-side totals of one completed stage. */
final case class StageStat(tasks: Int, runMs: Long, bytesRead: Long,
    bytesWritten: Long, shuffleWrite: Long, spill: Long)

/** A job and the span that submitted it: the span id travels on the
  * job's local properties; jobs submitted from other threads fall back to
  * the span open at the job's start. */
final case class JobRec(id: Int, span: Int, stages: Seq[Int])

/** Records jobs and completed stages during a traced run. */
final class JobLog(tracer: Tracer) extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[(Int, Option[Int], Seq[Int], Long)]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStat]()
  // converts listener wall-clock millis onto the tracer's nanoTime scale
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)
    jobs.add((e.jobId, span, e.stageIds, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.put(i.stageId, StageStat(i.numTasks,
      m.executorRunTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  /** Every job with its submitting span. */
  def jobRecs: Seq[JobRec] = jobs.asScala.toSeq.map { case (id, sp, st, t) =>
    JobRec(id, sp.getOrElse(tracer.spanAt(t * 1000000L + clockOffset)), st)
  }.sortBy(_.id)

  /** Stage totals, each stage counted once (for the first job that lists
    * it; reused stages of later jobs did not run again). */
  def stageStats(js: Seq[JobRec]): Seq[StageStat] = {
    val firstJob = jobRecs.flatMap(j => j.stages.map(_ -> j.id))
      .groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2).min }
    val ids = js.map(_.id).toSet
    stages.asScala.toSeq.collect {
      case (st, s) if firstJob.get(st).exists(ids) => s
    }
  }

  def allStages: Seq[StageStat] = stages.asScala.values.toSeq
}

/** Collects streaming progress durations during a traced run. */
final class StreamLog extends StreamingQueryListener {
  val durations = new ConcurrentLinkedQueue[Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      durations.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
}
