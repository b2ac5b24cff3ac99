package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it; times are on the [[Clock]] axis. */
final class JobRec(val id: Int, val start: Long, val layer: String, val site: String) {
  var end: Long = start
  var stages, tasks = 0
  var runMs, gcMs, cpuNs, shuffleRead, shuffleWrite, spill, records, written = 0L
}

/** The benchmark's listener on its own session: every job with its layer
  * (from the call site of the SQL execution that ran it, or of the job
  * itself), its completed stages and the summed task metrics; SQL
  * executions with their Catalyst phase times; and streaming micro-batches.
  * Nothing here touches the engine's code.
  *
  * A streaming query pins every job it runs to the call site of its
  * `start()`, so every job of a stream counts toward `streaming`, also
  * the parse, state and export work it does inside a micro-batch. Which
  * of those layers a streaming job belongs to cannot be read from outside
  * the engine without racing the stream's thread; that split waits for
  * spans inside the engine.
  */
final class SparkProbe extends SparkListener {
  private val execSite = mutable.HashMap.empty[Long, String] // execution id -> long call site
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  var sqlExecutions = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var microBatches = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecutions += 1
      execSite(s.executionId) = s.details
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val result = j.stageInfos.maxBy(_.stageId)
    val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong)).getOrElse(result.details)
    val rec = new JobRec(j.jobId, Clock.fromWallMs(j.time), Layers.ofCallSite(site),
      site.linesIterator.find(l => Layers.ofClass(l.trim).isDefined).getOrElse(result.name).trim)
    jobs += rec
    j.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == j.jobId).foreach(_.end = Clock.fromWallMs(j.time))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(s.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(t.stageId); m <- Option(t.taskMetrics)) {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.records += m.inputMetrics.recordsRead
      rec.written += m.outputMetrics.bytesWritten
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = SparkProbe.this.synchronized {
      val p = qe.tracker.phases
      analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
      optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
      planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) SparkProbe.this.synchronized { microBatches += 1 }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    SparkProbe.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Forgets everything seen so far (call after [[SparkProbe.drain]]). */
  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); execSite.clear()
    sqlExecutions = 0; analysisMs = 0; optimizationMs = 0; planningMs = 0; microBatches = 0
  }
}

object SparkProbe {
  /** Waits until the listener bus has delivered every queued event, so
    * counts read afterwards are complete. `waitUntilEmpty` is not public
    * API; it is reached by reflection, as the engine's own bench does.
    */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }
}
