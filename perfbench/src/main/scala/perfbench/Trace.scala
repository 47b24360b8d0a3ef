package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed region. Times are epoch milliseconds as doubles, the clock
  * Spark's listener events carry, so engine events and the benchmark's own
  * spans share one time axis. `parent` is the id of the enclosing span (-1
  * for a root) and `stmt` the statement the span belongs to. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, stmt: Long)

/** In-memory span store, written out once at exit. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger()

  def add(name: String, start: Double, end: Double, parent: Int, stmt: Long): Span = {
    val s = Span(ids.getAndIncrement(), name, start, end, parent, stmt)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def children(of: Span): Seq[Span] = all.filter(_.parent == of.id)

  /** A span's duration minus the part covered by its children. */
  def selfMs(of: Span): Double =
    Stats.selfTime((of.start, of.end), children(of).map(c => (c.start, c.end)))

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb.append(String.format(java.util.Locale.ROOT,
        "{\"id\":%d,\"name\":\"%s\",\"start\":%.3f,\"end\":%.3f,\"parent\":%d,\"stmt\":%d}",
        Int.box(s.id), s.name, Double.box(s.start), Double.box(s.end), Int.box(s.parent), Long.box(s.stmt)))
      sb.append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with nanosecond-clock resolution. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** What the engine did, as seen by Spark's listeners: one record per job
  * and per finished task, plus the Catalyst phases of every plan. The
  * benchmark registers these itself; no engine code is instrumented.
  *
  * Plans: a query listener only sees plans that ran an action, and those
  * carry only the phases of the action's own plan. The parse and eager
  * analysis that `spark.sql` does first live on an earlier tracker; the
  * session hook in [[TraceHooks]] catches every tracker that reaches the
  * analyzer, so both are counted. */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  import EngineProbe._

  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val trackers = java.util.concurrent.ConcurrentHashMap.newKeySet[QueryPlanningTracker]()
  @volatile var enabled = true

  def track(t: QueryPlanningTracker): Unit = if (enabled) { trackers.add(t); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    jobsById.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val m = e.taskMetrics
    if (m != null) {
      tasks.add(Task(e.stageId, m.executorRunTime,
        m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten))
      ()
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    track(qe.tracker)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    track(qe.tracker)

  /** Wait until every job seen so far has ended and the event counts stop
    * moving: listener delivery is asynchronous. */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val n = tasks.size + trackers.size + jobsById.size
      val open = jobsById.values.asScala.exists(_.end.isNaN)
      if (n == last && !open) stable += 1 else stable = 0
      last = n
    }
  }

  def jobs: Seq[Job] = jobsById.values.asScala.toSeq.sortBy(_.id)
  def allTasks: Seq[Task] = tasks.asScala.toSeq
  /** One plan per tracker that recorded at least one phase. */
  def allPlans: Seq[Plan] = trackers.asScala.toSeq.flatMap { t =>
    val ph = t.phases.map { case (k, v) => k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
    if (ph.isEmpty) None else Some(Plan(ph.values.map(_._1).min, ph))
  }

  def clear(): Unit = { jobsById.clear(); tasks.clear(); trackers.clear() }
}

/** Session hook for traced runs: a no-op analyzer rule that hands the
  * tracker of every plan being analyzed to the active [[EngineProbe]]. It
  * changes no plan; untraced runs do not install it. */
object TraceHooks {
  @volatile var probe: EngineProbe = null

  private object RecordTracker extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      val p = probe
      if (p != null) QueryPlanningTracker.get.foreach(p.track)
      plan
    }
  }

  def inject(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(_ => RecordTracker)
    ()
  }
}

object EngineProbe {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuMs: Double,
      gcMs: Long, shuffleBytes: Long, recordsWritten: Long, bytesWritten: Long)
  final case class Plan(start: Double, phases: Map[String, (Double, Double)])
}

/** Engine events attributed to one statement window. */
final case class EngineShare(jobs: Seq[EngineProbe.Job], tasks: Seq[EngineProbe.Task],
    plans: Seq[EngineProbe.Plan]) {
  def runMs: Double = tasks.map(_.runMs.toDouble).sum
  def cpuMs: Double = tasks.map(_.cpuMs).sum
  def gcMs: Double = tasks.map(_.gcMs.toDouble).sum
  def shuffleMb: Double = tasks.map(_.shuffleBytes).sum / 1048576.0
  def recordsWritten: Long = tasks.map(_.recordsWritten).sum
  def bytesWritten: Long = tasks.map(_.bytesWritten).sum
  /** Wall time covered by at least one running job. */
  def actionMs: Double = Stats.unionLength(jobs.filterNot(_.end.isNaN).map(j => (j.start, j.end)))
  def phaseMs(phase: String): Double = plans.flatMap(_.phases.get(phase)).map(p => p._2 - p._1).sum
}

object EngineShare {
  /** Split the probe's events between statement windows [start, end]:
    * a job belongs to the window its start falls in, a task to the window
    * of the job that ran its stage, a plan to the window its first phase
    * started in. Exact when statements run one at a time, which is how
    * the traced runs issue them. Events outside every window (the
    * benchmark's own bookkeeping) are dropped. */
  def attribute(probe: EngineProbe, windows: IndexedSeq[(Double, Double)]): IndexedSeq[EngineShare] = {
    val starts = windows.map(_._1).toArray
    // listener timestamps are whole milliseconds: widen each window by one
    def windowOf(t: Double): Int = {
      var i = java.util.Arrays.binarySearch(starts, t)
      if (i < 0) i = -i - 2
      if (i >= 0 && t <= windows(i)._2 + 1.0) i
      else if (i + 1 < windows.size && t >= starts(i + 1) - 1.0) i + 1
      else -1
    }
    val jobs = probe.jobs.map(j => windowOf(j.start) -> j).filter(_._1 >= 0)
    val stageWin = jobs.flatMap { case (w, j) => j.stages.map(_ -> w) }.toMap
    val tasks = probe.allTasks.flatMap(t => stageWin.get(t.stage).map(_ -> t))
    val plans = probe.allPlans.map(p => windowOf(p.start) -> p).filter(_._1 >= 0)
    val jg = jobs.groupBy(_._1); val tg = tasks.groupBy(_._1); val pg = plans.groupBy(_._1)
    windows.indices.map { i =>
      EngineShare(jg.getOrElse(i, Nil).map(_._2), tg.getOrElse(i, Nil).map(_._2),
        pg.getOrElse(i, Nil).map(_._2))
    }
  }

  /** Catalyst and Spark metrics as means per statement. */
  def perStatement(shares: Seq[EngineShare]): Map[String, Double] = {
    def mean(f: EngineShare => Double) = Stats.mean(shares.map(f))
    Map(
      "catalyst.parse_ms" -> mean(_.phaseMs("parsing")),
      "catalyst.analyze_ms" -> mean(_.phaseMs("analysis")),
      "catalyst.optimize_ms" -> mean(_.phaseMs("optimization")),
      "catalyst.plan_ms" -> mean(_.phaseMs("planning")),
      "catalyst.plans_per_stmt" -> mean(_.plans.size.toDouble),
      "spark.tasks_per_stmt" -> mean(_.tasks.size.toDouble),
      "spark.action_ms" -> mean(_.actionMs),
      "spark.executor_run_ms" -> mean(_.runMs),
      "spark.executor_cpu_ms" -> mean(_.cpuMs),
      "spark.gc_ms" -> mean(_.gcMs),
      "spark.shuffle_mb" -> mean(_.shuffleMb))
  }
}
