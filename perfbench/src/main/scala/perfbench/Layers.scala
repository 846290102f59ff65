package perfbench

import scala.collection.mutable

/** Per-layer metrics of the traced passes, each a per-pass mean unless
  * it is a peak. Jobs are placed in the span tree by time: a job belongs
  * to the innermost harness span open when it started (one client runs
  * one op at a time).
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Listener times are whole milliseconds; a job may appear to start up
    * to 1 ms before the span that submitted it.
    */
  private val slackUs = 1000L

  private final case class Placed(job: Job, host: Option[Span],
      span: Span)

  private def place(t: Tracer, l: LayerListener): Seq[Placed] = {
    val spans = t.spans.toSeq.sortBy(_.startUs)
    l.jobs.values.toSeq.map { j =>
      val s = j.startMs * 1000
      val host = spans.filter(h => h.startUs - slackUs <= s && s <= h.endUs)
        .lastOption
      val start = host.map(h => math.max(s, h.startUs)).getOrElse(s)
      val name = Attribution.module(l, j)
        .getOrElse("unattributed")
      Placed(j, host, Span(1000000 + j.id, host.map(_.id).getOrElse(0),
        host.map(_.op).getOrElse(0), "job", name, start,
        math.max(start, j.endMs * 1000)))
    }
  }

  def jobSpans(t: Tracer, l: LayerListener): Seq[Span] = place(t, l).map(_.span)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }

  def compute(wl: Workload, t: Tracer, l: LayerListener,
      tracedPasses: Int, tracedPassS: Double,
      state: (Long, Long, Long),
      untracedPassS: Double): Seq[(String, (Double, String))] = {
    val n = math.max(1, tracedPasses).toDouble
    val placed = place(t, l)
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def per(name: String, v: Double, unit: String) = out += name -> (v / n, unit)
    def peak(name: String, v: Double, unit: String) = out += name -> (v, unit)
    def dur(s: Span) = (s.endUs - s.startUs) / 1e6
    def jobS(p: Placed) = dur(p.span)
    def under(kind: String) = placed.filter(_.host.exists(_.kind == kind))

    val spans = t.spans.toSeq
    per("queries.build_s", spans.filter(_.kind == "build").map(dur).sum, "s")
    per("queries.build_jobs", under("build").size, "count")
    per("exec.write_s", spans.filter(_.kind == "write").map(dur).sum, "s")
    per("exec.write_jobs", under("write").size, "count")
    per("exec.jobs", placed.size, "count")
    per("exec.job_s", placed.map(jobS).sum, "s")

    val byModule = placed.groupBy(_.span.name)
    Attribution.modules.foreach { m =>
      val js = byModule.getOrElse(m, Nil)
      per(s"$m.jobs", js.size, "count")
      per(s"$m.job_s", js.map(jobS).sum, "s")
    }
    val other = placed.filterNot(p => Attribution.modules.contains(p.span.name))
    per("attr.other_jobs", other.size, "count")
    per("attr.other_job_s", other.map(jobS).sum, "s")

    val edges = placed.flatMap(p => Seq((p.span.startUs, 1), (p.span.endUs, -1)))
      .sortBy(e => (e._1, e._2))
    peak("exec.job_concurrency_peak",
      edges.scanLeft(0)(_ + _._2).max.toDouble, "count")

    per("plan.analysis_s", l.analysisMs / 1e3, "s")
    per("plan.optimization_s", l.optimizationMs / 1e3, "s")
    per("plan.planning_s", l.planningMs / 1e3, "s")
    per("plan.executions", l.executionsRun, "count")
    val ops = spans.filter(_.kind == "op")
    val jobIv = placed.map(p => (p.span.startUs, p.span.endUs))
    per("driver.idle_s", ops.map { o =>
      (o.endUs - o.startUs - covered(jobIv, o.startUs, o.endUs)) / 1e6
    }.sum, "s")

    val done = l.stages.values.filter(_.info != null).toSeq
    def tm[T](f: org.apache.spark.executor.TaskMetrics => Long) =
      done.flatMap(s => Option(s.info.taskMetrics)).map(f).sum.toDouble
    per("exec.stages", done.size, "count")
    per("exec.tasks", done.map(_.info.numTasks).sum, "count")
    per("exec.task_run_s", tm(_.executorRunTime) / 1e3, "s")
    per("exec.task_cpu_s", tm(_.executorCpuTime) / 1e9, "s")
    per("exec.task_wait_s", done.map(_.taskWaitMs).sum / 1e3, "s")
    per("exec.gc_s", tm(_.jvmGCTime) / 1e3, "s")
    val inputBytes = tm(_.inputMetrics.bytesRead)
    per("exec.input_mb", inputBytes / MB, "MB")
    per("exec.shuffle_read_mb", tm(m => m.shuffleReadMetrics.remoteBytesRead +
      m.shuffleReadMetrics.localBytesRead) / MB, "MB")
    per("exec.shuffle_write_mb", tm(_.shuffleWriteMetrics.bytesWritten) / MB, "MB")
    per("exec.spill_mb", tm(_.diskBytesSpilled) / MB, "MB")

    per("operators.ScratchCache.pins",
      wl match { case q: QueryWorkload => q.pins.toDouble; case _ => 0.0 },
      "count")
    peak("operators.ScratchCache.storage_peak_mb", l.storagePeakBytes / MB, "MB")
    peak("state.bytes", state._1.toDouble, "bytes")
    peak("state.files", state._2.toDouble, "count")
    peak("state.bytes_written", state._3.toDouble, "bytes")

    val m = wl match { case m: MigrateWorkload => Some(m); case _ => None }
    def adapter(k: String) =
      m.map(_.adapterNs.getOrElse(k, 0L) / 1e9).getOrElse(0.0)
    def calls(k: String) =
      m.map(_.adapterCalls.getOrElse(k, 0L).toDouble).getOrElse(0.0)
    def step(label: String) = if (m.isEmpty) 0.0 else StepTimers.seconds(label)
    per("migrate.ddl_s", adapter("ddl"), "s")
    per("migrate.ddl_calls", calls("ddl"), "count")
    per("migrate.ledger_write_s", adapter("ledger_write"), "s")
    per("migrate.ledger_writes", calls("ledger_write"), "count")
    per("migrate.ledger_files", m.map(_.ledgerFiles.toDouble).getOrElse(0.0), "count")
    per("migrate.ledger_read_s", adapter("ledger_read"), "s")
    per("migrate.discovery_s", m.map(_.discoveryNs / 1e9).getOrElse(0.0), "s")
    per("migrate.rerun_s", m.map(_.rerunNs / 1e9).getOrElse(0.0), "s")
    per("migrate.code_step_s", step("code_step"), "s")
    per("migrate.program_step_s", m.map(_.programStepNs / 1e9).getOrElse(0.0), "s")
    per("migrate.BulkCopy.s", step("BulkCopy"), "s")
    per("migrate.SchemaEvolution.s", step("SchemaEvolution"), "s")
    per("sources.JdbcSource.load_s", step("JdbcSource"), "s")
    per("migrate.write_mb",
      if (m.isEmpty) 0.0 else tm(_.outputMetrics.bytesWritten) / MB, "MB")
    peak("migrate.stored_bytes_ratio", m.filter(_ => inputBytes > 0)
      .map(_.storedBytes / inputBytes).getOrElse(0.0), "ratio")

    peak("trace.traced_pass_s", tracedPassS, "s")
    peak("trace.overhead_s", tracedPassS - untracedPassS, "s")
    out.toSeq
  }
}
