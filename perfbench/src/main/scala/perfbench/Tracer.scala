package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.StatusStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are `System.nanoTime` values; `parent` is -1 for
  * a root span.
  */
final case class Span(id: Int, name: String, opId: String, parent: Int, start: Long, end: Long) {
  def nanos: Long = end - start
}

object Span {

  /** Each span's duration minus the durations of its direct children. */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val childNanos = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.nanos)(_ + _)
    spans.map(s => s.id -> (s.nanos - childNanos.getOrElse(s.id, 0L))).toMap
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfNanos(spans)
    spans.groupMapReduce(_.name)(s => self(s.id))(_ + _)
  }

  /** Ids of `root` and every span below it. */
  def subtree(spans: Seq[Span], root: Int): Set[Int] = {
    val children = spans.groupMap(_.parent)(_.id)
    def walk(id: Int): Set[Int] = children.getOrElse(id, Nil).toSet.flatMap(walk) + id
    walk(root)
  }
}

/** Per-job task totals the listener collects, keyed by job id. */
final case class JobTotals(
    group: String,
    var stages: Int = 0,
    var tasks: Long = 0,
    var runMs: Long = 0,
    var cpuNs: Long = 0,
    var gcMs: Long = 0,
    var shuffleWriteBytes: Long = 0,
    var shuffleReadBytes: Long = 0,
    var spillBytes: Long = 0,
    var inputBytes: Long = 0,
    var inputRecords: Long = 0,
    var outputBytes: Long = 0,
    var outputRecords: Long = 0)

/** Records spans in memory and ties Spark jobs to them, between
  * [[attach]] and [[detach]].
  *
  * Every span sets a job group of its own for the duration of its body, so
  * the jobs its calls launch (on this thread, or on threads Spark forks
  * from it) carry the span's id. A [[SparkListener]] sums each job's
  * executed stages; a [[QueryExecutionListener]] keeps the Catalyst phase
  * times of every query execution; SQL execution start/end events give the
  * intervals spent inside tracked executions.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Int, Long)]
  private var nextId = 0

  // Listener state, written on the listener-bus thread.
  private val jobs = mutable.LinkedHashMap.empty[Int, JobTotals]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlStart = mutable.HashMap.empty[Long, Long]
  private val sqlIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  // Listener event times are epoch milliseconds; spans use nanoTime.
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = JobTotals(group.getOrElse(""))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      for (jobId <- stageJob.get(e.stageInfo.stageId); j <- jobs.get(jobId)) {
        val m = e.stageInfo.taskMetrics
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.outputRecords += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        if (s.rootExecutionId.forall(_ == s.executionId)) sqlStart(s.executionId) = toNano(s.time)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlStart.remove(s.executionId).foreach(t0 => sqlIntervals += ((t0, toNano(s.time))))
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        phases += ((toNano(ph.values.map(_.startTimeMs).min), ph.map { case (k, v) => k -> v.durationMs }))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def groupOf(id: Int): String = s"perfbench-span-$id"

  /** Runs `body` inside a span named `name` for operation `opId`. */
  def span[T](name: String, opId: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, opId, parent, System.nanoTime()) :: open
    sc.setJobGroup(groupOf(id), name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, _, _, start) = open.head
      val end = System.nanoTime()
      open = open.tail
      synchronized(spans += Span(id, name, opId, parent, start, end))
      open.headOption match {
        case Some((pid, pname, _, _, _)) => sc.setJobGroup(groupOf(pid), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Closed spans so far, ordered by id. */
  def closed: Seq[Span] = synchronized(spans.sortBy(_.id).toSeq)

  /** Job totals of the jobs launched inside the given spans. */
  def jobsIn(ids: Set[Int]): Seq[JobTotals] = {
    StatusStore.drain(sc)
    val groups = ids.map(groupOf)
    synchronized(jobs.values.filter(j => groups.contains(j.group)).toSeq)
  }

  /** Nanoseconds of `[from, to)` covered by root SQL executions. */
  def insideExecutions(from: Long, to: Long): Long = {
    StatusStore.drain(sc)
    val clipped = synchronized(sqlIntervals.toSeq)
      .map { case (a, b) => (a.max(from), b.min(to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var reach = from
    clipped.foreach { case (a, b) =>
      val s = a.max(reach)
      if (b > s) { covered += b - s; reach = b }
    }
    covered
  }

  /** Catalyst phase milliseconds of executions that started in `[from, to)`. */
  def phaseMs(from: Long, to: Long): Map[String, Long] = {
    StatusStore.drain(sc)
    synchronized(phases.toSeq)
      .filter { case (t, _) => t >= from && t < to }
      .flatMap(_._2)
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Writes every closed span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = closed.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","op":"${s.opId}","parent":${s.parent},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Starts recording jobs, executions and phases. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Stops recording, once every event posted so far has been delivered. */
  def detach(): Unit = {
    StatusStore.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}
