package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's event timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval of the trace tree. `attrs` carries the raw counts
  * measured at that boundary. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toJson: Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

object Observed {
  final case class Job(startMs: Long, stageIds: Seq[Int], var endMs: Long = -1L)
  final case class Stage(id: Int, var startMs: Long, var endMs: Long = -1L,
      taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty)
  final case class Batch(stream: String, startMs: Long,
      durations: Map[String, Long], stateRows: Long)
}

/** Everything the three listeners saw between two [[Recorder.take]]s. */
final class Observed {
  import Observed._
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val batches = mutable.ArrayBuffer.empty[Batch]
  val executions = mutable.ArrayBuffer.empty[QueryExecution]
  val counters = mutable.LinkedHashMap.empty[String, Double]
    .withDefaultValue(0.0)

  def add(key: String, v: Double): Unit = counters(key) += v
}

/** SparkListener + QueryExecutionListener + StreamingQueryListener that
  * buffer what they see for the query in flight. Spark delivers events
  * on its listener-bus thread; every method synchronizes on `this`. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private var cur = new Observed

  /** Hands over everything seen since the last call. Drain the bus
    * first (see [[org.apache.spark.perfbench.Internals]]). */
  def take(): Observed = synchronized { val o = cur; cur = new Observed; o }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs(e.jobId) = Observed.Job(e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      cur.stages((i.stageId, i.attemptNumber())) =
        Observed.Stage(i.stageId, i.submissionTime.getOrElse(-1L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      cur.stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.startMs = i.submissionTime.getOrElse(s.startMs)
        s.endMs = i.completionTime.getOrElse(-1L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    cur.stages.get((e.stageId, e.stageAttemptId))
      .foreach(_.taskMs += info.duration)
    cur.add("tasks", 1)
    if (info.failed || info.killed) cur.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      cur.add("task_ms", info.duration)
      cur.add("run_ms", m.executorRunTime)
      cur.add("cpu_ns", m.executorCpuTime)
      cur.add("read_bytes", m.inputMetrics.bytesRead)
      cur.add("read_rows", m.inputMetrics.recordsRead)
      cur.add("write_bytes", m.outputMetrics.bytesWritten)
      cur.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      cur.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      cur.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  // File writers report "number of written files" as a driver-side SQL
  // metric update, batch and streaming sinks alike.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates => synchronized {
      u.accumUpdates.foreach { case (id, v) =>
        if (org.apache.spark.perfbench.Internals.accumulatorName(id)
            .contains("number of written files")) cur.add("files_written", v)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized { cur.executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = synchronized { cur.executions += qe }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          .toMap
        cur.batches += Observed.Batch(String.valueOf(p.id),
          java.time.Instant.parse(p.timestamp).toEpochMilli, d,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
  }
}
