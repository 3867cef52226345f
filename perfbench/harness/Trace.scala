package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One interval of the run. Times are epoch microseconds so driver-side
  * spans (nanoTime-based) and listener events (epoch millis) share one
  * axis. `parent` is the id of the enclosing span, -1 at the root. */
final case class Span(id: Int, name: String, startUs: Double, endUs: Double, parent: Int, runId: String)

/** In-memory span recorder plus the Spark and streaming listeners the
  * traced run attaches. Nothing is written until the run ends. */
final class Trace(val runId: String) {
  import Trace._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val origin = System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  def nowUs: Double = origin + System.nanoTime() / 1000.0

  def add(name: String, startUs: Double, endUs: Double, parent: Int): Int = synchronized {
    val id = spans.size
    spans += Span(id, name, startUs, endUs, parent, runId)
    id
  }

  /** Record `f` as a span; the id is reserved first so children made
    * inside `f` can point at it. */
  def span[T](name: String, parent: Int)(f: Int => T): T = {
    val id = add(name, nowUs, Double.NaN, parent)
    try f(id) finally synchronized { spans(id) = spans(id).copy(endUs = nowUs) }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def close(id: Int, endUs: Double): Unit = synchronized {
    spans(id) = spans(id).copy(endUs = endUs)
  }

  // --- scheduler: jobs, stages, tasks, shuffle ------------------------
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, desc, e.time, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val r = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), -1L, -1L))
      r.submit = i.submissionTime.getOrElse(-1L)
      r.done = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val r = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId, stageJob.getOrElse(e.stageId, -1), -1L, -1L))
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        val rd = m.shuffleReadMetrics.totalBytesRead
        r.shRead += rd
        if (rd > 0) r.reads += rd
        r.spill += m.diskBytesSpilled
      }
    }
  }

  // --- streaming: micro-batches of the foreachBatch twins -------------
  val batches = mutable.ArrayBuffer.empty[Batch]
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val p = e.progress
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += Batch(Option(p.name).getOrElse(p.id.toString), p.batchId, trig, p.numInputRows)
    }
  }
}

object Trace {
  final case class JobRec(id: Int, desc: String, start: Long, var end: Long)
  final case class StageRec(id: Int, job: Int, var submit: Long, var done: Long,
      var tasks: Int = 0, var runMs: Long = 0, var shWrite: Long = 0, var shRead: Long = 0,
      var spill: Long = 0, reads: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  final case class Batch(query: String, batchId: Long, triggerMs: Long, rows: Long)
}
