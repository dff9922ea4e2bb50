package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.observe.IndexStore

/** In-memory trace of one benchmark run: spans around each engine call,
  * Spark jobs and tasks from a listener, observed metrics from a query
  * listener, and the IndexStore build ledger drained per span. Nothing
  * is written until [[toJson]] at the end of the run; the per-layer
  * arithmetic (driver time, self time, sums) lives in `metrics.py`.
  *
  * Clocks: spans use wall-clock epoch microseconds derived from
  * `nanoTime`, jobs use the scheduler's epoch-millisecond event times,
  * so a job is attributed to the span its start falls in. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val epochOffsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = epochOffsetUs + System.nanoTime() / 1000L

  private val threadMx = ManagementFactory.getThreadMXBean

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val builds = mutable.ArrayBuffer.empty[Build]

  // listener state: written on the listener-bus thread, read after
  // the bus has drained at the end of the run
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val observed = new java.util.concurrent.atomic.AtomicLong()
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.put(e.jobId, new Job(e.jobId, e.time))
      e.stageIds.foreach(st => stageToJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val j = Option(stageToJob.get(e.stageId)).flatMap(id =>
        Option(jobs.get(id)))
      val m = e.taskMetrics
      j.foreach { job =>
        job.synchronized {
          job.tasks += 1
          if (m != null) {
            job.cpuNs += m.executorCpuTime
            job.scanBytes += m.inputMetrics.bytesRead
            job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
              m.shuffleReadMetrics.totalBytesRead
            job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            val info = e.taskInfo
            val run = m.executorRunTime + m.executorDeserializeTime +
              m.resultSerializationTime
            val sched = info.duration - run - info.gettingResultTime
            job.schedWaitMs += math.max(0L, sched)
          }
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = timed {
      observed.addAndGet(qe.observedMetrics.size.toLong)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    listenerNs.addAndGet(System.nanoTime() - t0)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Time `body` as a span of `layer`. Nested spans record their
    * parent so self time can be taken out of the enclosing span. With
    * tracing off this is a plain call. */
  def span[T](layer: String, label: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = new Span(spans.length, layer, label,
        open.headOption.map(_.id).getOrElse(-1), nowUs(),
        threadMx.getCurrentThreadCpuTime)
      spans += sp
      open.push(sp)
      try body
      finally {
        sp.endUs = nowUs()
        sp.driverCpuNs = threadMx.getCurrentThreadCpuTime - sp.cpu0
        open.pop()
        IndexStore.drainBuildLog().foreach(b =>
          builds += Build(sp.id, b.artifact, b.fingerprint, b.mode, b.ms))
      }
    }

  /** Drop build events recorded outside any span (set-up builds). */
  def discardBuilds(): Unit = { IndexStore.drainBuildLog(); () }

  /** Wait until the listener bus has delivered every event posted so
    * far, so the job and task tallies are complete. */
  def settle(): Unit =
    if (enabled) org.apache.spark.PerfbenchBridge.drainListenerBus(spark)

  def toJson(buildBytes: Build => Long): String = {
    val sb = new StringBuilder
    sb.append("{\"spans\":[")
    sb.append(spans.map { s =>
      s"""{"id":${s.id},"layer":${q(s.layer)},"label":${q(s.label)},""" +
        s""""parent":${s.parent},"start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"driver_cpu_ns":${s.driverCpuNs}}"""
    }.mkString(","))
    sb.append("],\"jobs\":[")
    import scala.jdk.CollectionConverters._
    sb.append(jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""tasks":${j.tasks},"cpu_ns":${j.cpuNs},""" +
        s""""scan_bytes":${j.scanBytes},"shuffle_bytes":${j.shuffleBytes},""" +
        s""""spill_bytes":${j.spillBytes},"sched_wait_ms":${j.schedWaitMs}}"""
    }.mkString(","))
    sb.append("],\"builds\":[")
    sb.append(builds.map { b =>
      s"""{"span":${b.span},"artifact":${q(b.artifact)},""" +
        s""""fingerprint":${q(b.fingerprint)},"mode":${q(b.mode)},""" +
        s""""ms":${b.ms},"bytes":${buildBytes(b)}}"""
    }.mkString(","))
    sb.append(s"""],"observed":${observed.get},""")
    sb.append(s""""listener_ms":${listenerNs.get / 1e6}}""")
    sb.toString
  }

  def close(): Unit =
    if (enabled) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
    }
}

object Tracer {
  final class Span(val id: Int, val layer: String, val label: String,
      val parent: Int, val startUs: Long, val cpu0: Long) {
    var endUs: Long = startUs
    var driverCpuNs: Long = 0L
  }

  final class Job(val id: Int, val startMs: Long) {
    var endMs: Long = startMs
    var tasks = 0L
    var cpuNs = 0L
    var scanBytes = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var schedWaitMs = 0L
  }

  final case class Build(span: Int, artifact: String, fingerprint: String,
      mode: String, ms: Long)

  /** JSON string literal with the escapes JSON requires. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
