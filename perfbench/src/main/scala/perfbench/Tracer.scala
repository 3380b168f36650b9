package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One call into a layer's public function, timed from outside.
  * `startMs`/`endMs` share the clock Spark stamps job events with;
  * `wallNs` is the precise duration. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, endMs: Long, wallNs: Long)

/** A Spark job as the listener saw it. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** A completed stage's task metrics, summed over its tasks. */
final case class StageRec(stageId: Int, tasks: Int, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long)

/** What a span did, its children included. */
final case class SpanStats(span: Span, jobs: Int, selfJobs: Int, stages: Int,
    tasks: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, outputBytes: Long, driverGapMs: Long) {
  def wallS: Double = span.wallNs / 1e9
  def driverGapS: Double = driverGapMs / 1e3
}

/** Outside-in tracer: `span` wraps a call into the engine; a
  * benchmark-owned SparkListener records every job and stage. Spans
  * stay in memory; `stats` credits each job to the innermost span open
  * at its start, and counts it again in every enclosing span. A span is
  * open over [start, end) in milliseconds, so when one span ends in the
  * millisecond the next begins, a job started then belongs to the next
  * only. Driver gap is span wall minus the union of the job intervals
  * inside it.
  * A disabled tracer runs the wrapped calls and records nothing. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val listener = new JobListener

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, runId, m0, System.currentTimeMillis(),
          System.nanoTime() - t0)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
  def stats: Seq[SpanStats] =
    Tracer.attribute(spans.toSeq, listener.jobs, listener.stages)
}

/** Records job intervals and stage metrics off the listener bus. */
final class JobListener extends SparkListener {
  private val starts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val ends = scala.collection.mutable.Map.empty[Int, Long]
  private val stageRecs = scala.collection.mutable.Map.empty[Int, StageRec]

  /** Time spent inside this listener's handlers: its direct cost. */
  @volatile var busyNs = 0L

  private def timedHandler(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    timedHandler(starts(e.jobId) = (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedHandler(ends(e.jobId) = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timedHandler {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageRecs(i.stageId) = StageRec(i.stageId, i.numTasks,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  def jobs: Seq[JobRec] = synchronized {
    starts.toSeq.sortBy(_._1).map { case (id, (t, st)) =>
      JobRec(id, t, ends.getOrElse(id, t), st)
    }
  }
  def stages: Map[Int, StageRec] = synchronized(stageRecs.toMap)
}

object Tracer {

  /** Length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Credit jobs and their stages to spans (see the class comment). */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec],
      stages: Map[Int, StageRec]): Seq[SpanStats] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int =
      Iterator.iterate(s)(x => byId.getOrElse(x.parent, null)).takeWhile(_ != null).size
    def contains(s: Span, t: Long) = s.startMs <= t && t < s.endMs
    val innermost: Map[Int, Option[Int]] = jobs.map { j =>
      j.jobId -> spans.filter(contains(_, j.startMs)).sortBy(s => -depth(s))
        .headOption.map(_.id)
    }.toMap
    spans.map { s =>
      val inside = jobs.filter(j => contains(s, j.startMs))
      val st = inside.flatMap(_.stageIds).distinct.flatMap(stages.get)
      val clipped = inside.map(j => (j.startMs, math.min(j.endMs, s.endMs)))
      SpanStats(s, inside.size, inside.count(j => innermost(j.jobId).contains(s.id)),
        st.size, st.map(_.tasks.toLong).sum, st.map(_.shuffleReadBytes).sum,
        st.map(_.shuffleWriteBytes).sum, st.map(_.spillBytes).sum,
        st.map(_.outputBytes).sum,
        math.max(0L, (s.endMs - s.startMs) - unionLength(clipped)))
    }
  }

  /** Spans and their stats as JSON lines, for the trace file. */
  def toJsonLines(stats: Seq[SpanStats]): String = stats.map { t =>
    val s = t.span
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${t.wallS},""" +
      s""""jobs":${t.jobs},"self_jobs":${t.selfJobs},"stages":${t.stages},"tasks":${t.tasks},""" +
      s""""shuffle_read_bytes":${t.shuffleReadBytes},"shuffle_write_bytes":${t.shuffleWriteBytes},""" +
      s""""spill_bytes":${t.spillBytes},"output_bytes":${t.outputBytes},""" +
      s""""driver_gap_s":${t.driverGapS}}"""
  }.mkString("", "\n", "\n")
}
