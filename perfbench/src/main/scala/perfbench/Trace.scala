package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `op` is the id of the op span the interval belongs
  * to (an op span carries its own id); `parent` is 0 for an op span.
  * Times are epoch microseconds.
  */
final case class Span(id: Int, parent: Int, op: Int, kind: String,
    name: String, startUs: Long, endUs: Long)

/** Spans recorded from the harness's side of each layer boundary, kept in
  * memory until the run ends. One client thread opens and closes them,
  * so a stack gives every span its parent.
  */
final class Tracer {
  private val base =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = System.nanoTime() / 1000 + base

  val spans = mutable.ArrayBuffer.empty[Span]
  private case class Open(id: Int, parent: Int, op: Int, kind: String,
      name: String, start: Long)
  private val stack = mutable.Stack.empty[Open]
  private var nextId = 0

  def open(kind: String, name: String): Int = synchronized {
    nextId += 1
    val parent = stack.headOption
    stack.push(Open(nextId, parent.map(_.id).getOrElse(0),
      parent.map(_.op).getOrElse(nextId), kind, name, nowUs))
    nextId
  }

  /** Close the innermost open span if it is of `kind`. */
  def closeIf(kind: String): Unit = synchronized {
    if (stack.headOption.exists(_.kind == kind)) close()
  }

  def close(): Unit = synchronized {
    val o = stack.pop()
    spans += Span(o.id, o.parent, o.op, o.kind, o.name, o.start, nowUs)
  }

  def span[T](kind: String, name: String)(f: => T): T = {
    open(kind, name)
    try f finally close()
  }
}

/** Timers the generated migration code steps call. Only while a tracer
  * is installed (the traced passes) do they record a span and add to the
  * per-label totals; in every other pass they just run the step.
  */
object StepTimers {
  @volatile var tracer: Option[Tracer] = None
  val totalsNs = new ConcurrentHashMap[String, java.lang.Long]()

  def time[T](label: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) =>
      t.open("call", label)
      val t0 = System.nanoTime()
      try f
      finally {
        totalsNs.merge(label, System.nanoTime() - t0, (a, b) => a + b)
        t.close()
      }
  }

  def reset(): Unit = totalsNs.clear()
  def seconds(label: String): Double =
    Option(totalsNs.get(label)).map(_.longValue / 1e9).getOrElse(0.0)
}

final case class Job(id: Int, startMs: Long, var endMs: Long,
    stageIds: Seq[Int], callSite: String, execId: Option[Long])

final class Stage {
  var submittedMs = 0L
  var taskWaitMs = 0L
  var info: StageInfo = _
}

/** Scheduler-side record of one run's jobs, stages and tasks, plus the
  * planning phases of every executed query. Attached only for the traced
  * passes.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, Stage]
  /** SQL execution id -> (root execution id, call site). */
  val executions = mutable.HashMap.empty[Long, (Long, String)]
  var analysisMs, optimizationMs, planningMs = 0L
  var executionsRun = 0
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  var storagePeakBytes = 0L

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, e.stageIds, site, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stage(e.stageInfo.stageId).submittedMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stage(e.stageInfo.stageId).info = e.stageInfo }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    if (s.submittedMs > 0)
      s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val now =
          if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        storedBytes += now - blockBytes.getOrElse(b.blockId.name, 0L)
        if (now == 0L) blockBytes -= b.blockId.name
        else blockBytes(b.blockId.name) = now
        storagePeakBytes = math.max(storagePeakBytes, storedBytes)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (
        s.rootExecutionId.getOrElse(s.executionId), s.details)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    executionsRun += 1
  }
}

/** Names a job by module: the innermost `graft.*` frame of its final
  * stage's call site, else of the call site that started its SQL
  * execution (followed to the root execution).
  */
object Attribution {
  val modules: Seq[String] = Seq(
    "operators.ConnectedComponents", "operators.GlobalOrder",
    "operators.ScratchCache", "queries.SimilarityOps",
    "queries.PipelineOps", "queries.DedupOps", "queries.TextOps",
    "sources.Tables", "sources.VerifyTap", "sources.JdbcSource")

  private val Frame = """^\s*(?:at\s+)?graft\.([a-z]+)\.([A-Za-z0-9_]+)""".r

  def innermost(callSite: String): Option[String] =
    callSite.split('\n').iterator.flatMap { line =>
      Frame.findFirstMatchIn(line)
        .map(m => s"${m.group(1)}.${m.group(2).takeWhile(_ != '$')}")
    }.nextOption()

  def module(l: LayerListener, job: Job): Option[String] =
    innermost(job.callSite).orElse(job.execId.flatMap { id =>
      l.executions.get(id).flatMap { case (root, site) =>
        l.executions.get(root).flatMap(r => innermost(r._2))
          .orElse(innermost(site))
      }
    })
}
