package stormbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Engine counters fed by [[EngineListener]]. One instance per JVM; the
  * harness reads [[snapshot]]s at span boundaries and subtracts. */
object EngineStats {
  /** Jobs in this job group are the harness's drain markers: never counted. */
  val MarkerGroup = "stormbench-marker"

  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                        taskCpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, markers: Long)

  private var jobs, stages, tasks, taskMs, taskCpuNs, gcMs, shuffleWrite, spill, markers = 0L
  /** (start, end) wall-clock millis of every finished counted job. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val markerJobs = mutable.HashSet.empty[Int]
  /** SQL execution id -> the action's call site (its description). */
  private val execSite = mutable.HashMap.empty[Long, String]
  /** call site -> (jobs, summed job wall ms). */
  private val siteJobs = mutable.HashMap.empty[String, (Long, Long)]

  def snapshot(): Snap = synchronized {
    Snap(jobs, stages, tasks, taskMs, taskCpuNs, gcMs, shuffleWrite, spill, markers)
  }

  /** Wall-clock millis inside [from, to] covered by at least one job. */
  def jobUnionMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def callSites(): Map[String, (Long, Long)] = synchronized { siteJobs.toMap }

  private[stormbench] def onSqlStart(id: Long, site: String): Unit = synchronized {
    execSite(id) = site
  }

  private[stormbench] def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(p => p.getProperty("spark.jobGroup.id") == MarkerGroup)) {
      markerJobs += e.jobId
    } else {
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      val site = exec.flatMap(execSite.get)
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse("unknown")
      jobStart(e.jobId) = (e.time, site)
    }
  }

  private[stormbench] def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) markers += 1
    else jobStart.remove(e.jobId).foreach { case (start, site) =>
      jobs += 1
      intervals += ((start, e.time))
      val (n, ms) = siteJobs.getOrElse(site, (0L, 0L))
      siteJobs(site) = (n + 1, ms + (e.time - start))
    }
  }

  private[stormbench] def onStage(): Unit = synchronized { stages += 1 }

  private[stormbench] def onTask(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** The listener instances Spark built from the configuration, so the
  * tracer can take them off their buses and put them back. */
object Attached {
  @volatile var engine: Option[EngineListener] = None
  @volatile var stream: Option[StreamListener] = None
}

/** Attached from outside through `spark.extraListeners` (traced runs only). */
class EngineListener extends SparkListener {
  Attached.engine = Some(this)
  override def onJobStart(e: SparkListenerJobStart): Unit = EngineStats.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = EngineStats.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = EngineStats.onStage()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = EngineStats.onTask(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => EngineStats.onSqlStart(s.executionId, s.description)
    case _ => ()
  }
}

/** Streaming counters fed by [[StreamListener]]. */
object StreamStats {
  final case class Snap(started: Long, terminated: Long, batches: Long, emptyBatches: Long,
                        durMs: Map[String, Long], stateCommitMs: Long, stateRows: Long)

  private var started, terminated, batches, empty, stateCommitMs, stateRows = 0L
  private val dur = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  def snapshot(): Snap = synchronized {
    Snap(started, terminated, batches, empty, dur.toMap, stateCommitMs, stateRows)
  }

  private[stormbench] def onStarted(): Unit = synchronized { started += 1 }
  private[stormbench] def onTerminated(): Unit = synchronized { terminated += 1 }
  private[stormbench] def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    synchronized {
      batches += 1
      if (p.numInputRows == 0) empty += 1
      p.durationMs.forEach((k, v) => dur(k) += v.longValue())
      p.stateOperators.foreach { s => stateCommitMs += s.commitTimeMs; stateRows += s.numRowsTotal }
    }
}

/** Attached from outside through `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  Attached.stream = Some(this)
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamStats.onStarted()
  override def onQueryProgress(e: QueryProgressEvent): Unit = StreamStats.onProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = StreamStats.onTerminated()
}
