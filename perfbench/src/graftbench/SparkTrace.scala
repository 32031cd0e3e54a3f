package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Records Spark jobs, stages and tasks of traced ops. An op marks the jobs
  * it submits with the local properties [[OpKey]] and [[SpanKey]]; jobs
  * without them (set-up, checks) are ignored.
  */
final class SparkTrace extends SparkListener {
  import SparkTrace._

  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val stageJob = scala.collection.mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val span = props.flatMap(p => Option(p.getProperty(SpanKey))).fold(0L)(_.toLong)
      val j = JobRec(e.jobId, op.toLong, span, Trace.newId(), e.time, -1L)
      jobs += j
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      stages += StageRec(i.stageId, i.attemptNumber(), j, Trace.newId(), i.name,
        i.submissionTime.getOrElse(j.start), i.completionTime.getOrElse(j.end))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, j, info.launchTime, info.finishTime,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.writeTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled, m.jvmGCTime, m.executorCpuTime)
    }
  }

  def jobsOf(op: Long): Seq[JobRec] = synchronized(jobs.filter(_.op == op).sortBy(_.start).toSeq)
  def stagesOf(op: Long): Seq[StageRec] =
    synchronized(stages.filter(_.job.op == op).sortBy(_.submit).toSeq)
  def tasksOf(op: Long): Seq[TaskRec] = synchronized(tasks.filter(_.job.op == op).toSeq)
  def tasksOfStage(s: StageRec): Seq[TaskRec] =
    synchronized(tasks.filter(t => t.stage == s.id && t.job.op == s.job.op).toSeq)

  /** Job → stage → task spans, each job under the op span that submitted it. */
  def spans(): Seq[Span] = synchronized {
    val ms = 1000000L
    val js = jobs.filter(_.end >= 0).map(j =>
      Span(j.spanId, j.parentSpan, "spark.job", j.op, j.start * ms, j.end * ms, "spark",
        s"job ${j.id}"))
    val ss = stages.map { s =>
      val ts = tasksOfStage(s)
      Span(s.spanId, s.job.spanId, "spark.stage", s.job.op, s.submit * ms, s.complete * ms,
        "spark", s"stage ${s.id}: ${s.name}; ${ts.size} tasks, " +
          s"${ts.map(_.recordsRead).sum} records read, ${ts.map(_.shuffleBytes).sum} shuffle bytes")
    }
    val stageSpan = stages.map(s => (s.id, s.job.op) -> s.spanId).toMap
    val ts = tasks.flatMap(t => stageSpan.get((t.stage, t.job.op)).map(p =>
      Span(Trace.newId(), p, "spark.task", t.job.op, t.launch * ms, t.finish * ms, "spark")))
    (js ++ ss ++ ts).toSeq
  }
}

object SparkTrace {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, op: Long, parentSpan: Long, spanId: Long,
      start: Long, var end: Long)
  final case class StageRec(id: Int, attempt: Int, job: JobRec, spanId: Long, name: String,
      submit: Long, complete: Long) {
    def seconds: Double = (complete - submit) / 1e3
  }
  final case class TaskRec(stage: Int, job: JobRec, launch: Long, finish: Long,
      recordsRead: Long, shuffleWriteNs: Long, shuffleBytes: Long, fetchWaitMs: Long,
      spillBytes: Long, gcMs: Long, cpuNs: Long) {
    def ms: Long = finish - launch
  }

  /** Marks the jobs `body` submits from this thread as belonging to `op`. */
  def tag[T](sc: SparkContext, op: Long, span: Long)(body: => T): T = {
    if (!Trace.enabled) return body
    sc.setLocalProperty(OpKey, op.toString)
    sc.setLocalProperty(SpanKey, span.toString)
    try body
    finally { sc.setLocalProperty(OpKey, null); sc.setLocalProperty(SpanKey, null) }
  }
}
