package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished span: a named interval in the benchmark's own code around
  * a call into one layer, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and summarised when the run ends. With tracing
  * off, [[apply]] only runs the body: no clock reads, no allocation. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Per span name: total seconds, self seconds (the span minus the time
    * its child spans cover) and the number of spans. Children of one
    * span run one after another, so their durations never overlap. */
  def summary: Map[String, (Double, Double, Int)] = {
    val childTime = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    done.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.map(_.seconds).sum,
        ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum,
        ss.size)
    }
  }
}

/** Spark job, stage and task events and the Catalyst planning time of
  * every executed query, recorded with their wall-clock times so they
  * can be attributed to the benchmark's spans afterwards (the loop is a
  * single closed-loop client, so time intervals identify the cause).
  * The time spent inside the callbacks is kept as part of the tracing
  * overhead. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  final case class Task(launchMs: Long, durMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      peakMem: Long, input: Long)
  final case class Job(startMs: Long, var endMs: Long)
  final case class Plan(atMs: Long, planMs: Long)

  val tasks = mutable.ArrayBuffer[Task]()
  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.ArrayBuffer[Long]()
  val plans = mutable.ArrayBuffer[Plan]()
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(body)
    callbackNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    timed(jobs(e.jobId) = Job(e.time, -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    timed(jobs.get(e.jobId).foreach(_.endMs = e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null) tasks += (if (m == null)
      Task(i.launchTime, i.duration, 0, 0, 0, 0, 0, 0)
    else Task(i.launchTime, i.duration, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead))
  }

  /** Analysis + optimization + physical planning of one executed query:
    * the work of forcing `queryExecution.executedPlan`. */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = timed {
    val phases = qe.tracker.phases
    plans += Plan(System.currentTimeMillis(),
      Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Counters of everything that started inside [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Counters = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val ts = tasks.filter(t => in(t.launchMs))
    val js = jobs.values.filter(j => in(j.startMs))
    Counters(
      jobs = js.size,
      stages = stages.count(in),
      tasks = ts.size,
      taskS = ts.map(_.durMs).sum / 1e3,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWrite = ts.map(_.shuffleWrite).sum,
      shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum,
      peakMem = if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
      input = ts.map(_.input).sum,
      jobS = js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3,
      planS = plans.filter(p => in(p.atMs)).map(_.planMs).sum / 1e3)
  }
}

final case class Counters(jobs: Int, stages: Int, tasks: Int, taskS: Double,
    gcS: Double, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakMem: Long, input: Long, jobS: Double, planS: Double) {

  /** The per-layer spark.* figures for a wall interval on `cores`. */
  def sparkMetrics(wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_s" -> taskS,
    "spark.gc_s" -> gcS,
    "spark.gap_share" ->
      (1.0 - math.min(1.0, taskS / math.max(1e-9, wallS * cores))),
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "spark.peak_exec_mem_bytes" -> peakMem.toDouble,
    "spark.input_bytes" -> input.toDouble)
}
