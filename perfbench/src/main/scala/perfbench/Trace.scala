package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A closed span: `parent` is -1 for an op span, `op` is the id shared
  * by every span of one op (one bulk pass, one day, one search). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    t0: Long, t1: Long, ms0: Long, ms1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spark engine counters summed over one span's jobs. */
final case class Counters(jobs: Int = 0, tasks: Long = 0, cpuS: Double = 0,
    shuffleMb: Double = 0, outMb: Double = 0, nojobS: Double = 0)

/** Spans around every call the benchmark makes into a layer, kept in
  * memory. With `engine` on, a SparkListener registered by the
  * benchmark tags every job with the innermost open span (a thread-local
  * job property, which Spark also hands to the broadcast threads a query
  * spawns) and sums its tasks' counters. Counters are attributed once
  * the listener bus has drained — after `SparkSession.stop()`. */
final class Tracer(spark: SparkSession, engine: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long, Long)] // (id, name, t0, ms0)
  private var nextId = 0
  private var opId = -1
  private val listener = new JobListener
  if (engine) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as an op span: every span opened inside shares its id. */
  def op[T](name: String)(body: => T): (T, Double) = {
    require(open.isEmpty, "ops do not nest")
    opId = nextId
    val out = span(name)(body)
    (out, spans.last.seconds)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime(), System.currentTimeMillis()) :: open
    setJobTag(id)
    try body
    finally {
      val (_, _, t0, ms0) = open.head
      open = open.tail
      spans += Span(id, name, parent, opId, t0, System.nanoTime(),
        ms0, System.currentTimeMillis())
      setJobTag(if (parent >= 0) parent else -1)
    }
  }

  private def setJobTag(id: Int): Unit =
    if (engine) spark.sparkContext.setLocalProperty(Tracer.Tag,
      if (id < 0) null else id.toString)

  def all: Seq[Span] = spans.toSeq

  /** Per-span counters including descendants, plus self time. Call after
    * the session has stopped. */
  def counters(): Map[Int, (Counters, Double)] = {
    val children = spans.groupBy(_.parent)
    val byId = spans.map(s => s.id -> s).toMap
    def subtree(id: Int): Seq[Int] =
      id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
    spans.map { s =>
      val ids = subtree(s.id).toSet
      val jobs = listener.jobs.filter(j => ids(j.span))
      val stages = listener.stageSpan.collect { case (st, sp) if ids(sp) => st }
        .toSet
      val tasks = listener.taskStats.filter { case (st, _) => stages(st) }.values
      val covered = union(jobs.toSeq.map(j =>
        (math.max(j.startMs, s.ms0), math.min(j.endMs, s.ms1))))
      val wallMs = math.max(s.ms1 - s.ms0, 0L)
      val self = s.seconds - children.getOrElse(s.id, Nil)
        .map(c => byId(c.id).seconds).sum
      s.id -> (Counters(jobs.size, tasks.map(_.tasks).sum,
        tasks.map(_.cpuNs).sum / 1e9, tasks.map(_.shuffleBytes).sum / 1048576.0,
        tasks.map(_.outBytes).sum / 1048576.0,
        math.max(wallMs - covered, 0L) / 1e3), self)
    }.toMap
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

object Tracer {
  val Tag = "perfbench.span"
}

final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long)
final class TaskStat(var tasks: Long = 0, var cpuNs: Long = 0,
    var shuffleBytes: Long = 0, var outBytes: Long = 0)

/** Job, stage and task events keyed by the span tag. Events arrive on
  * the listener-bus thread; the maps are read only after the bus
  * drained, but are synchronized all the same. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byJob = mutable.Map.empty[Int, JobRec]
  val stageSpan = mutable.Map.empty[Int, Int]
  val taskStats = mutable.Map.empty[Int, TaskStat]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Tag))).map(_.toInt).getOrElse(-1)
    val rec = JobRec(e.jobId, span, e.time, e.time)
    jobs += rec
    byJob(e.jobId) = rec
    e.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = taskStats.getOrElseUpdate(e.stageId, new TaskStat)
    st.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      st.cpuNs += m.executorCpuTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      st.outBytes += m.outputMetrics.bytesWritten
    }
  }
}
