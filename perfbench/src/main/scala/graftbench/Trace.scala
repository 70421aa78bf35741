package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.SaveIntoDataSourceCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

private[graftbench] object Trace {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        t0: Double, t1: Double)
  final case class TaskRec(launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                           schedMs: Long, shufReadB: Long, shufWriteB: Long, spillB: Long,
                           inB: Long, inRecs: Long, outRecs: Long, failed: Boolean)
  final case class JobRec(t0: Long, var t1: Long)
  final case class QeRec(t0: Long, t1: Double, durMs: Double, analysisMs: Double,
                         optimizationMs: Double, planningMs: Double, planNodes: Int,
                         jdbc: Boolean, fileWrite: Boolean)
  final case class ProgressRec(t0: Long, durations: Map[String, Long], stateRows: Long,
                               stateBytes: Long, stateCommitMs: Long)

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Wall-clock milliseconds with sub-millisecond resolution, on the
    * same clock as listener event times. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  // JVM-wide: the engine runs streaming queries on child sessions
  // (`newSession`), which get fresh per-session listener managers, so
  // the SQL and streaming listeners are installed through the static
  // confs below and write here
  private[graftbench] val qes = new ConcurrentLinkedQueue[QeRec]()
  private[graftbench] val progress = new ConcurrentLinkedQueue[ProgressRec]()

  val QeListenerConf = "spark.sql.queryExecutionListeners" -> classOf[QeListener].getName
  val StreamListenerConf =
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName
}

/** Every query execution of every session: its Catalyst phase times, plan
  * size, and whether it is a JDBC or a file write command. */
final class QeListener extends QueryExecutionListener {
  import Trace._
  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe, 0L)
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ph(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val analyzed = scala.util.Try(qe.analyzed).toOption
    val jdbc = analyzed.exists(_.exists {
      case c: SaveIntoDataSourceCommand =>
        c.dataSource.getClass.getName.toLowerCase.contains("jdbc")
      case _ => false
    })
    val fileWrite = analyzed.exists(_.exists(_.isInstanceOf[DataWritingCommand]))
    val nodes = scala.util.Try(qe.optimizedPlan.collect { case p => p }.size).getOrElse(0)
    // the earliest phase start is when the query was analyzed (inside
    // the op that built it); the bus delivers this event later
    val t0 = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
    qes.add(QeRec(t0, nowMs(), durationNs / 1e6, ph("analysis"), ph("optimization"),
      ph("planning"), nodes, jdbc, fileWrite))
  }
}

/** Every micro-batch's progress: phase durations and state-store size. */
final class StreamListener extends StreamingQueryListener {
  import Trace._
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val t0 = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(-1L)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val st = p.stateOperators.toSeq
    progress.add(ProgressRec(t0, d, st.map(_.numRowsTotal).sum,
      st.map(_.memoryUsedBytes).sum, st.map(_.commitTimeMs).sum))
  }
}

/** Spans recorded at the boundaries the benchmark can see, plus the raw
  * events of Spark's public listener buses. Everything stays in memory
  * and is written out once the run ends; attribution to ops (by time
  * window: ops run one at a time on one driver thread, and a streaming
  * query's jobs carry the stream thread's job group, not ours) and all
  * arithmetic on it happen in the Python side of the benchmark.
  *
  * With tracing off only the harness spans are kept (they cost a clock
  * read each) and no listener is registered; with it on, the session
  * is built with [[Trace.QeListenerConf]] and [[Trace.StreamListenerConf]]. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._
  def nowMs(): Double = Trace.nowMs()

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Time `body` as a span of `kind` under `parent`; returns the span id
    * with the result. Failures are recorded too, then rethrown. */
  def span[T](parent: Int, kind: String, name: String)(body: Int => T): (Int, T, Double) = {
    val id = ids.incrementAndGet()
    val t0 = nowMs()
    try {
      val r = body(id)
      val t1 = nowMs()
      spans.add(Span(id, parent, kind, name, t0, t1))
      (id, r, (t1 - t0) / 1000.0)
    } catch {
      case e: Throwable =>
        spans.add(Span(id, parent, kind, name + "!failed", t0, nowMs()))
        throw e
    }
  }

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageStarts = new ConcurrentLinkedQueue[Long]()

  private object Bus extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobRec(e.time, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageStarts.add(e.stageInfo.submissionTime.getOrElse(-1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null) {
        val failed = info.failed || info.killed
        if (m == null)
          tasks.add(TaskRec(info.launchTime, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed))
        else {
          val sched = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          tasks.add(TaskRec(info.launchTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.recordsWritten, failed))
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Bus)

  /** Wait for the listener bus, then render every record. */
  def dump(): Map[String, Any] = {
    if (enabled) org.apache.spark.BenchBus.drain(spark.sparkContext)
    Map(
      "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s =>
        Seq(s.id, s.parent, s.kind, s.name, s.t0, s.t1)),
      "tasks" -> tasks.asScala.toSeq.map(t => Seq(t.launch, t.runMs, t.cpuNs, t.gcMs,
        t.schedMs, t.shufReadB, t.shufWriteB, t.spillB, t.inB, t.inRecs, t.outRecs, t.failed)),
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.t0).map(j => Seq(j.t0, j.t1)),
      "stages" -> stageStarts.asScala.toSeq,
      "qes" -> qes.asScala.toSeq.map(q => Seq(q.t0, q.t1, q.durMs, q.analysisMs,
        q.optimizationMs, q.planningMs, q.planNodes, q.jdbc, q.fileWrite)),
      "progress" -> progress.asScala.toSeq.map(p => Map(
        "t0" -> p.t0, "durations" -> p.durations, "state_rows" -> p.stateRows,
        "state_bytes" -> p.stateBytes, "state_commit_ms" -> p.stateCommitMs)))
  }
}
