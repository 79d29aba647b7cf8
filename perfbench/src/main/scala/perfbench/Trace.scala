package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into graft. Times are epoch milliseconds, the clock
  * Spark stamps its listener events with, so events attribute to spans
  * by time alone: the benchmark is a single closed-loop client, so spans of
  * one nesting level never overlap.
  */
final case class Span(id: Int, name: String, parent: Int, runId: String, start: Long, end: Long, durNs: Long) {
  def dur: Long = end - start
  def covers(t: Long): Boolean = t >= start && t <= end
}

final case class JobEv(id: Int, start: Long, end: Long, sqlExecution: String)
final case class TaskEv(
    launch: Long, failed: Boolean, cpuNs: Long, gcMs: Long, shuffleWrite: Long, inBytes: Long, outBytes: Long, spill: Long)
final case class PlanEv(start: Long, ms: Long)

/** Counters attributed to one span. */
final case class Counters(
    wallS: Double, jobs: Long, tasks: Long, failedTasks: Long, planS: Double, driverS: Double, cpuS: Double,
    gcS: Double, shuffleBytes: Long, readBytes: Long, writeBytes: Long, spillBytes: Long) {
  def ioBytes: Long = readBytes + writeBytes
}

/** Records spans around the benchmark's calls into graft, and Spark's job,
  * task and planning events under them. Everything stays in memory until
  * the run ends.
  */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener with QueryExecutionListener {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Long, Long)]
  private var nextId = 0
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, (Long, String)]
  private val jobs = ArrayBuffer.empty[JobEv]
  private val tasks = ArrayBuffer.empty[TaskEv]
  private val plans = ArrayBuffer.empty[PlanEv]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    stack ::= ((id, System.currentTimeMillis(), System.nanoTime()))
    try body
    finally {
      val (_, t0, n0) = stack.head
      stack = stack.tail
      spans += Span(id, name, stack.headOption.map(_._1).getOrElse(-1), runId, t0, System.currentTimeMillis(),
        System.nanoTime() - n0)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time, exec)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, exec) = jobStart.remove(e.jobId).getOrElse((e.time, ""))
    jobs += JobEv(e.jobId, t0, e.time, exec)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.taskInfo.failed || e.taskInfo.killed
    tasks += (if (m == null) TaskEv(e.taskInfo.launchTime, failed, 0, 0, 0, 0, 0, 0)
    else TaskEv(
      e.taskInfo.launchTime, failed, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => plans += PlanEv(p.startTimeMs, p.durationMs))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** Runs `body` with the listeners removed, to measure what they cost. */
  def detached[A](body: => A): A = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    try body
    finally {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
    }
  }

  /** Waits for Spark to deliver every pending event, then detaches. */
  def finish(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def all: Seq[Span] = spans.toSeq

  /** Spark counters of one span; `driverS` is its time covered by no job. */
  def counters(s: Span): Counters = synchronized {
    val js = jobs.filter(j => s.covers(j.start))
    val ts = tasks.filter(t => s.covers(t.launch))
    // union of the job intervals, clipped to the span
    var covered = 0L
    var reach = s.start
    js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    Counters(
      wallS = s.durNs / 1e9,
      jobs = js.size,
      tasks = ts.size,
      failedTasks = ts.count(_.failed),
      planS = plans.filter(p => s.covers(p.start)).map(_.ms).sum / 1e3,
      driverS = math.max(0.0, s.durNs / 1e9 - covered / 1e3),
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleBytes = ts.map(_.shuffleWrite).sum,
      readBytes = ts.map(_.inBytes).sum,
      writeBytes = ts.map(_.outBytes).sum,
      spillBytes = ts.map(_.spill).sum,
    )
  }

  def failedTasks: Long = synchronized(tasks.count(_.failed).toLong)

  /** Self time: a span's duration minus the time its child spans cover. */
  def selfMs(s: Span): Long = s.dur - spans.filter(_.parent == s.id).map(_.dur).sum

  /** JSON lines: one per span, with its counters and self time, then one
    * per Spark job, tagged with the innermost span it started in.
    */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      val c = counters(s)
      s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start},""" +
        s""""end_ms":${s.end},"self_ms":${selfMs(s)},"jobs":${c.jobs},"tasks":${c.tasks},"failed_tasks":${c.failedTasks},""" +
        s""""plan_s":${c.planS},"driver_s":${c.driverS},"cpu_s":${c.cpuS},"gc_s":${c.gcS},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""read_bytes":${c.readBytes},"write_bytes":${c.writeBytes},"spill_bytes":${c.spillBytes}}"""
    }
    val jobLines = jobs.sortBy(_.id).map { j =>
      val in = spans.filter(_.covers(j.start)).sortBy(_.dur).headOption.map(_.id).getOrElse(-1)
      s"""{"run":"$runId","job":${j.id},"span":$in,"start_ms":${j.start},"end_ms":${j.end},"sql_execution":"${j.sqlExecution}"}"""
    }
    java.nio.file.Files.write(path, ((lines ++ jobLines).mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
