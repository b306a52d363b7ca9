package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark-side counters for the `spark.*` and `stream.*` layer metrics.
  * They only count while the recorder is tracing. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var batches = 0L
  var triggerMs = 0L
  var addBatchMs = 0L
  var commitMs = 0L
  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskRunMs = 0; taskWaitMs = 0
    shuffleWriteBytes = 0; shuffleReadBytes = 0; spillBytes = 0
    batches = 0; triggerMs = 0; addBatchMs = 0; commitMs = 0
  }
}

/** Registers the benchmark's own listeners; the library is not touched.
  *  - a SparkListener turns jobs and stages into spans, sums task metrics,
  *    and keeps the physical plans of the current operation's SQL
  *    executions, streaming micro-batches included, for the plan guard;
  *  - a StreamingQueryListener sums micro-batch durations. */
final class Listeners(rec: Recorder) {
  val counters = new Counters
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Long)] // job -> (span, parent, start)
  private val stageJob = mutable.Map.empty[Int, Int] // stage -> job span

  @volatile private var planCapture: mutable.ArrayBuffer[String] = null
  @volatile private var stageCapture: mutable.ArrayBuffer[Double] = null

  private val sparkListener = new SparkListener {
    // every SQL execution posts its physical plan when it starts, and again
    // each time adaptive execution re-plans it
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      val plan = e match {
        case s: SparkListenerSQLExecutionStart => s.physicalPlanDescription
        case u: SparkListenerSQLAdaptiveExecutionUpdate => u.physicalPlanDescription
        case _ => null
      }
      val buf = planCapture
      if (plan != null && buf != null) buf.synchronized { buf += plan }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (rec.tracing) {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Recorder.SpanProperty)))
        .map(_.toInt).getOrElse(0)
      val id = rec.nextId()
      synchronized {
        jobSpan(e.jobId) = (id, parent, e.time * 1000000L)
        e.stageIds.foreach(s => stageJob(s) = id)
      }
      counters.synchronized { counters.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val started = synchronized { jobSpan.remove(e.jobId) }
      started.foreach { case (id, parent, t0) =>
        rec.addSpan(Span(id, parent, "spark", s"job ${e.jobId}", t0,
          math.max(t0, e.time * 1000000L)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (rec.tracing) {
      val si = e.stageInfo
      val parent = synchronized { stageJob.remove(si.stageId) }.getOrElse(0)
      val buf = stageCapture
      for (t0 <- si.submissionTime; t1 <- si.completionTime; if buf != null)
        buf.synchronized { buf += (t1 - t0).toDouble }
      for (t0 <- si.submissionTime; t1 <- si.completionTime)
        rec.addSpan(Span(rec.nextId(), parent, "spark", s"stage ${si.stageId}",
          t0 * 1000000L, math.max(t0, t1) * 1000000L))
      counters.synchronized { counters.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (rec.tracing) {
      val m = e.taskMetrics
      val ti = e.taskInfo
      if (m != null) counters.synchronized {
        counters.tasks += 1
        counters.taskRunMs += m.executorRunTime
        // scheduler delay as the Spark UI derives it
        counters.taskWaitMs += math.max(0L, ti.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (ti.gettingResult) ti.finishTime - ti.gettingResultTime else 0L))
        counters.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        counters.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        counters.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (rec.tracing) {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        def ms(k: String) = d.getOrElse(k, 0L)
        counters.synchronized {
          counters.batches += 1
          counters.triggerMs += ms("triggerExecution")
          counters.addBatchMs += ms("addBatch")
          counters.commitMs += ms("commitOffsets") + ms("walCommit")
        }
        val end = java.time.Instant.parse(e.progress.timestamp).toEpochMilli * 1000000L
        // the progress timestamp marks the trigger start
        rec.addSpan(Span(rec.nextId(), 0, "graft.streaming",
          s"batch ${e.progress.batchId} ${e.progress.name}", end,
          end + ms("triggerExecution") * 1000000L))
      }
  }

  def register(): Unit = {
    rec.spark.sparkContext.addSparkListener(sparkListener)
    rec.spark.streams.addListener(streamListener)
  }

  /** Collects the physical plans of every SQL execution run inside `f`. */
  def capturePlans[T](f: => T): (T, Seq[String]) = {
    val buf = mutable.ArrayBuffer.empty[String]
    planCapture = buf
    try {
      val r = f
      // the listener bus is asynchronous; let it drain before reading
      org.apache.spark.PerfbenchBus.drain(rec.spark.sparkContext)
      (r, buf.synchronized(buf.toList))
    } finally planCapture = null
  }

  /** Durations in milliseconds of the stages `f` runs, in completion order. */
  def stageDurations(f: => Unit): Seq[Double] = {
    val buf = mutable.ArrayBuffer.empty[Double]
    stageCapture = buf
    try { f; drain(); buf.synchronized(buf.toList) } finally stageCapture = null
  }

  /** Total GC time of the JVM so far, in milliseconds. In local mode the
    * executors share the driver JVM, so this covers task GC too. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(rec.spark.sparkContext)
}
