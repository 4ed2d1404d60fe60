package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the scheduler reported it (epoch ms). */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    broadcast: Boolean, stageIds: Seq[Int])

/** Benchmark-owned listeners for the traced run: a `SparkListener` for
  * the driver and executor layers and a `QueryExecutionListener` for the
  * Catalyst phases of every action. Counters only grow; the runner reads
  * deltas around each operation after draining the listener bus. The
  * listeners are attached only while tracing is on, so an untraced pass
  * pays nothing for them. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = { c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v); () }

  private val jobs = ArrayBuffer[JobRec]()
  private val jobById = new ConcurrentHashMap[Int, JobRec]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  def drain(): Unit = org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)

  /** Every counter's current value. */
  def snapshot(): Map[String, Long] = c.asScala.map { case (k, v) => k -> v.get() }.toMap

  /** Jobs that started at or after `fromMs`, in start order. */
  def jobsSince(fromMs: Long): Seq[JobRec] = jobs.synchronized(jobs.filter(_.startMs >= fromMs).toSeq)

  def stageWasSubmitted(id: Int): Boolean = submitted.contains(id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val r = JobRec(e.jobId, e.time, -1L, desc.startsWith("broadcast exchange"), e.stageIds)
    jobs.synchronized(jobs += r)
    jobById.put(e.jobId, r)
    add("jobs", 1)
    if (r.broadcast) add("broadcast_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.remove(e.jobId)).foreach { r =>
      r.endMs = e.time
      if (r.broadcast) add("broadcast_ms", e.time - r.startMs)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    submitted.add(e.stageInfo.stageId)
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("exec_gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) add("empty_tasks", 1)
      if (info != null) {
        // Spark's own scheduler-delay definition (StagePage)
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        add("sched_delay_ms", math.max(0L, delay))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add("aqe_updates", 1)
    case _ => ()
  }

  private def phases(qe: QueryExecution): Unit = {
    add("actions", 1)
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => add(s"${p}_ms", s.durationMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** Job count only, for the untraced passes of a traced run. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  private val n = new AtomicLong()
  spark.sparkContext.addSparkListener(this)

  /** Jobs started so far, after every queued event is delivered. */
  def read(): Long = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    n.get()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
}
