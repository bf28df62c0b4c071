package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `root` is the id of the query or micro-batch the
  * span belongs to; `parent` is the span that caused it (-1 for a root).
  * Times are epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, root: Int, name: String,
                      startMs: Double, endMs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "root" -> root,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs)
}

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and Spark's listener timestamps (epoch ms) share one axis. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms(): Double = (System.nanoTime() + offsetNs) / 1e6
}

/** Spans and counters of one traced run, kept in memory and written when
  * the run ends. Spark-side intervals (jobs, Catalyst phases) are added as
  * children of the harness span that was open when they happened. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0

  def add(name: String, parent: Span, startMs: Double, endMs: Double): Span = synchronized {
    val id = nextId; nextId += 1
    val s = Span(id, parent.id, parent.root, name, startMs, endMs); spans += s; s
  }
  def root(name: String, startMs: Double, endMs: Double): Span = synchronized {
    val id = nextId; nextId += 1
    val s = Span(id, -1, id, name, startMs, endMs); spans += s; s
  }
}

/** Counters of the execution layer, from a listener the benchmark
  * registers itself. Job intervals are kept so the driver-only time
  * (wall time minus the union of job intervals) can be computed. */
final class ExecListener extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var stagesSkipped = 0L
  @volatile var tasks = 0L
  @volatile var tasksFailed = 0L
  @volatile var taskRunMs = 0L
  @volatile var taskCpuNs = 0L
  @volatile var shuffleReadB = 0L
  @volatile var shuffleWriteB = 0L
  @volatile var spillB = 0L
  @volatile var jobsEnded = 0L
  val jobIntervals = ArrayBuffer[(Double, Double, String)]()
  private val jobStart = scala.collection.mutable.Map[Int, (Long, String)]()
  private val jobStages = scala.collection.mutable.Map[Int, Seq[Int]]()
  private val submitted = scala.collection.mutable.Set[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStages(e.jobId) = e.stageIds
    jobStart(e.jobId) = (e.time, e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, site) =>
      jobIntervals += ((s.toDouble, e.time.toDouble, site)) }
    jobStages.remove(e.jobId).foreach(ids => stagesSkipped += ids.count(id => !submitted.contains(id)))
    jobsEnded += 1
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId; ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.diskBytesSpilled
    }
  }
  def counters(): Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.toDouble, "exec.stages" -> stages.toDouble,
    "exec.stages_skipped" -> stagesSkipped.toDouble, "exec.tasks" -> tasks.toDouble,
    "exec.tasks_failed" -> tasksFailed.toDouble, "exec.task_run_s" -> taskRunMs / 1e3,
    "exec.task_cpu_s" -> taskCpuNs / 1e9, "exec.shuffle_read_mb" -> shuffleReadB / 1048576.0,
    "exec.shuffle_write_mb" -> shuffleWriteB / 1048576.0, "exec.spill_mb" -> spillB / 1048576.0))
  /** (start, end, call site) of every job ended since the last drain. */
  def drainJobs(): Seq[(Double, Double, String)] = synchronized {
    val r = jobIntervals.toList; jobIntervals.clear(); r
  }
  /** Listener events arrive asynchronously; wait (bounded) until every
    * started job has been seen to end, so a root's counts are complete. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (synchronized(jobsEnded < jobs) && System.nanoTime() < deadline) Thread.sleep(1)
  }
}

/** Catalyst phase intervals of every action, from a listener the benchmark
  * registers itself. It is named in `spark.sql.queryExecutionListeners`, so
  * every session gets one, the cloned sessions composed queries run on
  * included; all instances record into this one store, while enabled. */
object PhaseEvents {
  @volatile var enabled = false
  private val events = ArrayBuffer[Map[String, (Double, Double)]]()
  def add(e: Map[String, (Double, Double)]): Unit = synchronized { events += e; () }
  /** Wait (bounded) until an action that started at or after `sinceMs` has
    * been seen, then return and clear every recorded action. */
  def drainAfter(sinceMs: Double): Seq[Map[String, (Double, Double)]] = {
    val deadline = System.nanoTime() + 2000000000L
    def seen = synchronized(events.exists(_.get("analysis").exists(_._1 >= sinceMs - 1)))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(1)
    drain()
  }
  def drain(): Seq[Map[String, (Double, Double)]] = synchronized {
    val r = events.toList; events.clear(); r
  }
}

final class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (PhaseEvents.enabled) PhaseEvents.add(Phases.of(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Phases {
  val Names = Seq("analysis", "optimization", "planning")
  def of(qe: QueryExecution): Map[String, (Double, Double)] =
    qe.tracker.phases.collect {
      case (k, p) if Names.contains(k) => k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
}

/** Listener registration for a traced pass; removed again for untraced
  * passes so the tracing overhead can be measured in the same run. */
final class Listeners(spark: SparkSession) {
  val exec = new ExecListener
  def on(): Unit = { spark.sparkContext.addSparkListener(exec); PhaseEvents.enabled = true }
  def off(): Unit = {
    exec.settle(); spark.sparkContext.removeSparkListener(exec); PhaseEvents.enabled = false
  }
}
