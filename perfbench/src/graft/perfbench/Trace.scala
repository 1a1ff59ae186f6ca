package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported while tracing was on. The listener classes below are
  * named in session confs (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), so Spark builds them for
  * every session, including the `newSession()` clones some catalog queries
  * make. They stay registered for the whole traced run and record only
  * while `on` is set. */
object Events {
  sealed trait Ev
  final case class JobStart(id: Int, ms: Long) extends Ev
  final case class JobEnd(id: Int, ms: Long) extends Ev
  case object StageDone extends Ev
  final case class Task(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleW: Long, shuffleR: Long, fetchMs: Long,
      spill: Long, in: Long, out: Long) extends Ev
  final case class Plan(analysisMs: Long, optimizationMs: Long,
      planningMs: Long) extends Ev
  final case class Batch(planMs: Long, addBatchMs: Long, commitMs: Long) extends Ev

  @volatile var on = false
  private val buf = ArrayBuffer[Ev]()
  def add(e: Ev): Unit = if (on) synchronized { buf += e }
  def take(): List[Ev] = synchronized { val r = buf.toList; buf.clear(); r }
}

class JobEvents extends SparkListener {
  import Events._
  override def onJobStart(e: SparkListenerJobStart): Unit = add(JobStart(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = add(JobEnd(e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(StageDone)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }
}

class PlanEvents extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    Events.add(Events.Plan(ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

class BatchEvents extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    Events.add(Events.Batch(ms("queryPlanning"), ms("addBatch"),
      ms("walCommit") + ms("commitOffsets")))
  }
}

/** A span: `parent` is the enclosing span's id (-1 at the top), `op` the
  * op it belongs to (-1 outside ops). Times are epoch milliseconds. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)

/** Per-op totals built from the events drained after the op. */
final case class OpTrace(wallMs: Long, jobs: Int, stages: Int, tasks: Int,
    jobCoverMs: Long, taskCoverMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleW: Long, shuffleR: Long, fetchMs: Long, spill: Long, in: Long,
    out: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    batches: Int, batchPlanMs: Long, addBatchMs: Long, commitMs: Long)

object OpTrace {
  import Events._

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, reach); val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Folds the events of op `op` (span `span`, [start, end]) into totals;
    * each finished job also becomes a child span of the op. */
  def of(evs: List[Ev], start: Long, end: Long, op: Int, span: Int,
      spans: Spans): OpTrace = {
    val starts = evs.collect { case j: JobStart => j.id -> j.ms }.toMap
    val jobIv = evs.collect { case j: JobEnd if starts.contains(j.id) =>
      spans.add(s"job ${j.id}", starts(j.id), j.ms, span, op)
      (starts(j.id), j.ms)
    }
    val tasks = evs.collect { case t: Task => t }
    val plans = evs.collect { case p: Plan => p }
    val batches = evs.collect { case b: Batch => b }
    OpTrace(end - start, starts.size, evs.count(_ == StageDone),
      tasks.size, covered(jobIv, start, end),
      covered(tasks.map(t => (t.launch, t.finish)), start, end),
      tasks.map(_.runMs).sum, tasks.map(_.cpuNs).sum, tasks.map(_.gcMs).sum,
      tasks.map(_.shuffleW).sum, tasks.map(_.shuffleR).sum,
      tasks.map(_.fetchMs).sum, tasks.map(_.spill).sum, tasks.map(_.in).sum,
      tasks.map(_.out).sum, plans.map(_.analysisMs).sum,
      plans.map(_.optimizationMs).sum, plans.map(_.planningMs).sum,
      batches.size, batches.map(_.planMs).sum, batches.map(_.addBatchMs).sum,
      batches.map(_.commitMs).sum)
  }
}

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val buf = ArrayBuffer[Span]()
  private var parents: List[Int] = Nil

  def add(name: String, start: Long, end: Long, parent: Int, op: Int): Int = {
    buf += Span(buf.size, name, start, end, parent, op)
    buf.size - 1
  }

  /** Id of the innermost open span, -1 outside any. */
  def current: Int = parents.headOption.getOrElse(-1)

  /** Runs `f` inside a span; spans added meanwhile become its children. */
  def around[T](name: String, op: Int)(f: => T): T = {
    val start = System.currentTimeMillis()
    val id = add(name, start, start, current, op)
    parents = id :: parents
    try f finally {
      parents = parents.tail
      buf(id) = buf(id).copy(end = System.currentTimeMillis())
    }
  }

  def json: String = buf.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.start},""" +
      s""""end_ms":${s.end},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
