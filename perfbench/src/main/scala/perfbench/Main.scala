package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its result file:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --run DIR --out FILE --cleanup FILE
  *
  * Order: three fresh-session set-ups (median reported); one untimed warm
  * pass, which also bootstraps the ledger state of stateful ops; the
  * traced passes when asked for; untraced timed passes until S seconds
  * have passed (at least two, exactly one in a traced run), whose median
  * is reported; then the untimed correctness gate, which also writes the
  * oracle outputs the runner script compares with DuckDB.
  *
  * Before any of it, the cleanup file names what the program will write
  * outside the run directory, so the runner can remove it even if this
  * JVM dies.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dataDir = args("data")
    val runDir = args("run")
    val cores = Runtime.getRuntime.availableProcessors

    val wl: Workload = workload match {
      case "analytics" => new QueryWorkload(workload, QuerySets.analytics,
        dataDir, s"$runDir/gate")
      case "curation" => new QueryWorkload(workload, QuerySets.curation,
        dataDir, s"$runDir/gate")
      case "migrate" => new MigrateWorkload(dataDir, runDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    Files.writeString(Paths.get(args("cleanup")), Json.obj(Seq(
      "state_root" -> Json.str(StateDir.root(dataDir)),
      "state_key" -> Json.str(StateDir.key(dataDir)),
      "tap_root" -> Json.str(graft.sources.VerifyTap.root),
      "taps" -> Json.arr(wl.taps.map(Json.str)))))
    val stateBefore = wl.stateFootprint(0L)
    var spark: SparkSession = null
    val setupS = (1 to 3).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      wl.resetState()
      spark = graft.GraftSession.local(cores, "perfbench")
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }

    val checks = new Checks
    val rng = new scala.util.Random(seed)
    val w0 = System.nanoTime()
    val warm = wl.pass(spark, new scala.util.Random(~seed), None)
    checks.attempt("warm") {
      warm.errors.foreach(e => checks.note(s"warm: $e"))
      warm.errors.isEmpty
    }
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    def passes(tracer: Option[Tracer], minPasses: Int,
        budgetS: Double): Seq[PassResult] = {
      val out = mutable.ArrayBuffer.empty[PassResult]
      val t0 = System.nanoTime()
      while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS)
        out += wl.pass(spark, rng, tracer)
      out.toSeq
    }

    // A traced run times its untraced pass after the traced ones, so the
    // untraced pass is the warmer and the overhead is not understated.
    val stateSince = System.currentTimeMillis()
    var traced: Seq[PassResult] = Nil
    var tracer: Option[Tracer] = None
    var listener: Option[LayerListener] = None
    if (trace) {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      val l = new LayerListener
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      val t = new Tracer
      StepTimers.reset()
      StepTimers.tracer = Some(t)
      traced = passes(Some(t), 1, seconds)
      StepTimers.tracer = None
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
      spark.sparkContext.removeSparkListener(l)
      tracer = Some(t)
      listener = Some(l)
    }
    // at least two timed passes: the pass count, and with it the point on
    // the warm-up curve the median comes from, then does not depend on
    // how fast the host happened to be
    val untraced = passes(None, if (trace) 1 else 2, if (trace) 0 else seconds)
    val rssMb = Proc.peakRssMb()
    val state = wl.stateFootprint(stateSince)

    val g0 = System.nanoTime()
    wl.gate(spark, checks)
    val gateS = (System.nanoTime() - g0) / 1e9
    val stateAfter = wl.stateFootprint(0L)
    wl.teardown(spark)
    spark.stop()

    val timed = untraced ++ traced
    // a pass in which an op threw did less work: its time enters no median
    def passS(ps: Seq[PassResult]) =
      Stats.median(ps.filter(_.errors.isEmpty).map(_.wallS))
    val opTimes = untraced.flatMap(_.opS.map(_._2))
    val opErrors = timed.flatMap(_.errors)
    val attempted = timed.map(p => p.opS.size + p.errors.size).sum +
      checks.attempted
    val failed = opErrors.size + checks.failures.size

    val e2e = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "pass_s" -> (passS(untraced), "s"),
      "op_p50_s" -> (Stats.median(opTimes), "s"),
      "rss_peak_mb" -> (rssMb, "MB"))
    val perLayer = (tracer, listener) match {
      case (Some(t), Some(l)) =>
        Layers.compute(wl, t, l, traced.size, passS(traced), state,
          passS(untraced))
      case _ => Nil
    }

    val stamp = Env.stamp(args, cores)
    def metric(kv: (String, (Double, String))) =
      kv._1 -> Json.obj(Seq("value" -> Json.num(kv._2._1),
        "unit" -> Json.str(kv._2._2)))
    val body = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "env" -> stamp,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failed_frac" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "errors" -> Json.arr((opErrors ++ checks.failures).map(Json.str)),
      "oracle_ops" -> Json.arr(checks.oracleOps.toSeq.map(Json.str)),
      "ops" -> Json.arr(wl.ops.map(Json.str)),
      "passes" -> untraced.size.toString,
      "traced_passes" -> traced.size.toString,
      "pass_samples_s" -> Json.arr(untraced.map(p => Json.num(p.wallS))),
      "setup_samples_s" -> Json.arr(setupS.map(Json.num)),
      "warm_s" -> Json.num(warmS),
      "gate_s" -> Json.num(gateS),
      "state_before" -> Json.arr(Seq(stateBefore._1, stateBefore._2).map(_.toString)),
      "state_after" -> Json.arr(Seq(stateAfter._1, stateAfter._2).map(_.toString)),
      "op_samples_s" -> Json.arr(untraced.flatMap(_.opS).map { case (n, s) =>
        Json.arr(Seq(Json.str(n), Json.num(s))) }),
      "end_to_end" -> Json.obj(e2e.map(metric)),
      "per_layer" -> Json.obj(perLayer.map(metric)),
      "spans" -> Json.arr(tracer.toSeq.flatMap(_.spans) ++
        listener.toSeq.flatMap(l => Layers.jobSpans(tracer.get, l))
        map { s => Json.arr(Seq(s.id.toString, s.parent.toString,
          s.op.toString, Json.str(s.kind), Json.str(s.name),
          s.startUs.toString, s.endUs.toString)) })))
    Files.writeString(Paths.get(args("out")), body)
  }
}

object Proc {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status")
    try line.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally line.close()
  }
}

/** The environment a number was measured in. Any `SPARK_GRAFT_*`
  * variable or `graft.*` system property is listed as an overlay, so a
  * toggled-config run is never compared with a default one.
  */
object Env {
  def stamp(args: Map[String, String], cores: Int): String = {
    val overlay = sys.env.toSeq.filter(_._1.startsWith("SPARK_GRAFT_")) ++
      sys.props.toSeq.filter(_._1.startsWith("graft."))
    Json.obj(Seq(
      "nproc" -> cores.toString,
      "spark_cores" -> cores.toString,
      "spark_master" -> Json.str(s"local[$cores]"),
      "driver_memory_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "seed" -> args("seed"),
      "workload" -> Json.str(args("workload")),
      "seconds" -> args("seconds"),
      "trace" -> args("trace"),
      "overlay_active" -> overlay.nonEmpty.toString,
      "overlay" -> Json.obj(overlay.sorted.map { case (k, v) => k -> Json.str(v) })))
  }
}
