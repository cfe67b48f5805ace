package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `name` is `<module>.<call>`; times are wall-clock
  * milliseconds (the clock Spark stamps its listener events with) plus a
  * nanosecond duration for the span's own wall time.
  */
final case class Span(id: Int, parent: Int, name: String,
    startMs: Long, endMs: Long, wallNs: Long)

/** Span recorder for the benchmark's own calls into the library. Spans nest
  * strictly (one client thread), so a stack is enough.
  */
final class Tracer(val enabled: Boolean) {
  val spans: ArrayBuffer[Span] = ArrayBuffer()
  private val stack = mutable.Stack[(Int, String, Long, Long)]()
  private var next = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = next; next += 1
      stack.push((id, name, System.currentTimeMillis(), System.nanoTime()))
      try body
      finally {
        val (_, _, ms0, ns0) = stack.pop()
        val parent = if (stack.isEmpty) -1 else stack.top._1
        spans += Span(id, parent, name, ms0, System.currentTimeMillis(),
          System.nanoTime() - ns0)
      }
    }
}

/** Per-stage totals from task-end events. */
final class StageAgg {
  var tasks = 0L; var failed = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, fingerprint: String, completedMs: Long)
/** Catalyst phase times of one query execution; `startMs` is when its
  * first phase began.
  */
final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Listener the benchmark attaches to its own session: job intervals, stage
  * fingerprints, task metrics, cached-block sizes and Catalyst phase times.
  * Read it only after [[org.apache.spark.PerfbenchBus.drain]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs: mutable.Map[Int, JobRec] = mutable.LinkedHashMap()
  val stageAgg: mutable.Map[Int, StageAgg] = mutable.Map()
  val stages: ArrayBuffer[StageRec] = ArrayBuffer()
  val plans: ArrayBuffer[PlanRec] = ArrayBuffer()
  /** (total cached RDD bytes after the update, was a write) */
  val cacheEvents: ArrayBuffer[(Long, Boolean)] = ArrayBuffer()
  private val blockBytes = mutable.Map[String, Long]()
  private var cached = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    // callsite + task count + the operator scopes of its RDD chain (names
    // only: scope ids are fresh for every plan execution)
    val scopes = s.rddInfos.map(ri => ri.name + "@" + ri.scope.map(_.name).getOrElse(""))
      .sorted.mkString("|")
    stages += StageRec(s.stageId, s"${s.name}#${s.numTasks}#$scopes",
      s.completionTime.getOrElse(System.currentTimeMillis()))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      // blocks cached before this recorder was attached are not tracked
      cached += bytes - blockBytes.getOrElse(key, 0L)
      if (bytes == 0L) blockBytes.remove(key) else blockBytes(key) = bytes
      cacheEvents += ((cached, bytes > 0))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    plans += PlanRec(start, d("analysis"), d("optimization"), d("planning"))
  }
}

/** Accounting over one traced interval (an iteration): per-span inclusive
  * wall, self, driver and task time, plus Spark totals for the interval.
  */
final case class SpanStats(name: String, wallS: Double, selfS: Double,
    driverS: Double, taskS: Double, stagesRepeated: Int)

object Accounting {

  /** Total length of the union of `intervals` clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Innermost span (of `spans`) whose interval holds `t`, if any: the one
    * opened last, which on a millisecond boundary is the span just starting
    * rather than the one just ending.
    */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(s => (s.startMs, s.id))

  def spanStats(spans: Seq[Span], rec: Recorder): Seq[SpanStats] = rec.synchronized {
    val jobs = rec.jobs.values.toSeq.filter(_.endMs >= 0)
    val jobOwner = jobs.map(j => j -> innermost(spans, j.startMs).map(_.id)).toMap
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Set[Int] =
      children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id
    val stageOfJob = jobs.map(j => j -> j.stages.toSet).toMap
    val completed = rec.stages.groupBy(_.id)
    spans.map { s =>
      val ids = subtree(s.id)
      val own = jobs.filter(j => jobOwner(j).exists(ids.contains))
      val childWall = children.getOrElse(s.id, Nil).map(_.wallNs).sum
      val jobMs = covered(own.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs)
      val stageIds = own.flatMap(stageOfJob).distinct
      val taskMs = stageIds.flatMap(rec.stageAgg.get).map(_.runMs).sum
      // repeated stages are counted within the leaf span that ran them
      val leafJobs = jobs.filter(j => jobOwner(j).contains(s.id))
      val fps = leafJobs.flatMap(_.stages).distinct.flatMap(completed.getOrElse(_, Nil))
        .sortBy(_.completedMs).map(_.fingerprint)
      val repeated = fps.size - fps.distinct.size
      SpanStats(s.name, s.wallNs / 1e9, (s.wallNs - childWall) / 1e9,
        math.max(0L, (s.endMs - s.startMs) - jobMs) / 1e3, taskMs / 1e3, repeated)
    }
  }
}
