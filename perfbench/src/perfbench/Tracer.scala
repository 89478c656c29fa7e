package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters of one key call. */
final class Counters {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(name: String, x: Double): Unit = values(name) = values.getOrElse(name, 0.0) + x
}

/** One node of the run → pass → key → {eager, action} → job → stage tree.
  * Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

/** The traced run's instruments, all attached from outside the engine:
  * a SparkListener (jobs, stages, tasks), a QueryExecutionListener
  * (Catalyst phase times) and a StreamingQueryListener (micro-batches and
  * state). Jobs find their key through the local properties the harness
  * sets before it calls into a layer; QueryExecution and streaming events
  * carry no properties and go to the key that is running, which is exact
  * because the harness drains the listener bus at every key boundary.
  */
final class Tracer(spark: SparkSession) {
  val KeyProp = "perfbench.key"
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"

  private val ids = new AtomicLong(0)
  def newId(): Long = ids.incrementAndGet()

  private val spans = mutable.ArrayBuffer[Span]()
  def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  @volatile var currentKey: Long = -1L
  private val byKey = new ConcurrentHashMap[Long, Counters]()
  private def counters(key: Long): Counters = byKey.computeIfAbsent(key, _ => new Counters)

  private case class JobInfo(span: Long, key: Long, phaseSpan: Long, startMs: Long, stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, JobInfo]()
  // last progress per streaming query: state size is a level, not a sum
  private val streamState = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()

  private def prop(p: java.util.Properties, name: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(name))).map(_.toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Some(prop(e.properties, KeyProp)).filter(_ >= 0).getOrElse(currentKey)
      val info = JobInfo(newId(), key, prop(e.properties, SpanProp), e.time, e.stageIds)
      jobs.put(e.jobId, info)
      e.stageIds.foreach(stageJob.put(_, info))
      val c = counters(key)
      c.add("spark.jobs", 1)
      if (Option(e.properties).exists(_.getProperty(PhaseProp) == "eager"))
        c.add("operators.eager_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId)).foreach { j =>
      record(Span(j.span, if (j.phaseSpan >= 0) j.phaseSpan else j.key, "job", s"job ${e.jobId}",
        j.startMs * 1000, e.time * 1000,
        Map("job_id" -> e.jobId, "key_span" -> j.key, "stages" -> j.stages.size,
          "ok" -> (e.jobResult == JobSucceeded))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val j = stageJob.get(si.stageId)
      val key = if (j == null) currentKey else j.key
      counters(key).add("spark.stages", 1)
      record(Span(newId(), if (j == null) key else j.span, "stage", si.name,
        si.submissionTime.getOrElse(0L) * 1000, si.completionTime.getOrElse(0L) * 1000,
        Map("stage_id" -> si.stageId, "attempt" -> si.attemptNumber(), "tasks" -> si.numTasks)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val c = counters(if (j == null) currentKey else j.key)
      c.add("spark.tasks", 1)
      if (e.reason != Success) c.add("spark.task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        val mb = 1024.0 * 1024.0
        c.add("spark.executor_run_s", m.executorRunTime / 1e3)
        c.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        c.add("spark.gc_s", m.jvmGCTime / 1e3)
        c.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        c.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
        c.add("spark.spill_mb", m.diskBytesSpilled / mb)
        c.add("spark.input_mb", m.inputMetrics.bytesRead / mb)
        c.add("spark.output_mb", m.outputMetrics.bytesWritten / mb)
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val c = counters(currentKey)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => c.add(s"catalyst.${p}_s", s.durationMs / 1e3))
    }
  }
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val c = counters(currentKey)
      c.add("streaming.batches", 1)
      c.add("streaming.batch_s", p.batchDuration / 1e3)
      c.add("streaming.add_batch_s",
        Option(p.durationMs.get("addBatch")).map(_.longValue / 1e3).getOrElse(0.0))
      c.add("streaming.input_rows", p.numInputRows.toDouble)
      streamState.put(p.runId,
        (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Counters of a finished key; call after [[drain]]. */
  def take(key: Long): Counters = {
    val c = Option(byKey.remove(key)).getOrElse(new Counters)
    val st = streamState.values.asScala
    c.add("streaming.state_rows", st.map(_._1).sum.toDouble)
    c.add("streaming.state_mb", st.map(_._2).sum / (1024.0 * 1024.0))
    streamState.clear()
    c
  }
}
