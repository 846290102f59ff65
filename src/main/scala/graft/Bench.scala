package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** The one timing harness. With no args it is the full benchmark:
  * every registered query at SPARK_GRAFT_SF_DIR, full materialization
  * via the noop sink (a bare count() would let Catalyst prune the
  * projections being measured), one JSON line out. The dev modes reuse
  * the same warmup, [[clear]] and timed noop write:
  *
  *  - `slice <q…>`: [[benchOne]] per query, one `[slice]` line each;
  *  - `ab <prop> <a> <b> <q…>`: two arms interleaved rep by rep;
  *  - `prof <q…>`: every Spark job of one timed run;
  *  - `plans <outDir> <tag> <q…>`: the formatted explain to files.
  *
  * Only the full mode writes `BENCH_FULL.json`.
  */
object Bench {

  private val usage = "usage: graft.Bench [mode]; modes: full (no args)" +
    " | slice <query...> | ab <prop> <a> <b> <query...> | prof <query...>" +
    " | plans <outDir> <tag> <query...>"

  /** Drop every cached/checkpointed block — queries must not interfere,
    * and a prior run's blocks otherwise pile into the next run's memory
    * budget and show up as GC, not as the query's cost.
    */
  def clear(spark: SparkSession): Unit = {
    operators.ScratchCache.releaseAll() // also empties the registry
    spark.catalog.clearCache()
    // localCheckpoint blocks (d6/d7) are not catalog-cached
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Warm up scan/codegen/shuffle machinery so the first timed query
    * doesn't absorb one-time session initialization.
    */
  def warm(spark: SparkSession, sfDir: String): Unit =
    noop(graft.sources.Tables.load(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count())

  /** [[clear]], then time one run of `body`.
    * @return wall seconds
    */
  def timed(spark: SparkSession)(body: => Unit): Double = {
    clear(spark)
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab in oracle SQL or ESC in an exception message would
    * otherwise emit invalid JSON that no reader can parse.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The recursive-churn class (r20, BASELINE §noise): queries whose
    * wall is dominated by iterative CC rounds over localCheckpoint
    * blocks, where block placement varies run-to-run — same-code
    * spread measured 7.7–13.1 s on d15 across windows, wide enough to
    * masquerade as a round-over-round regression. These take min-of-4
    * so one noisy sample can't set the recorded number.
    */
  private[graft] val churnQueries =
    Set("d15_semantic_keep", "d15l_semantic_keep_ledger")

  /** Bench one query: one untimed warmup (codegen compile, JIT, page
    * cache), then UNCONDITIONAL min-of-2 timed runs — host stalls (GC
    * pause, CPU steal) poisoned single-run numbers by 5-10× three
    * rounds running; queries over 5 s get a third run so one stall
    * can't poison both samples of the queries that dominate the
    * headline total. A query that throws returns Left(message): a
    * failure must surface as an error marker, never as a bogus
    * time-to-exception averaged into the headline (r5 recorded d9's
    * crash as a 0.07 s "result").
    *
    * @return Right((min seconds, every timed sample in run order)) —
    * the min is the recorded number (unchanged methodology); the full
    * sample list goes into the BENCH_FULL artifact so hot-window drift
    * (BASELINE §noise: same-code totals 150.6 vs 171.5 s two hours
    * apart in r20) is attributable from the artifact alone, without
    * narrative (r21, VERDICT-r20 #6).
    */
  private[graft] def benchOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String): Either[String, (Double, Seq[Double])] = {
    def once(): Unit = noop(fn(spark, sfDir))
    val samples = mutable.ArrayBuffer.empty[Double]
    def sample(): Either[String, Double] =
      try {
        val s = timed(spark)(once())
        samples += s
        Right(s)
      }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getName}: ${e.getMessage}") }
    val out =
      try { once()
        for {
          a <- sample(); b <- sample()
          m = math.min(a, b)
          f <- if (m > 5.0 || churnQueries(name))
            sample().map(math.min(m, _)) else Right(m)
          g <- if (churnQueries(name))
            sample().map(math.min(f, _)) else Right(f)
        } yield (g, samples.toSeq)
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getName}: ${e.getMessage}") }
    clear(spark)
    out.left.foreach(m => System.err.println(s"[bench] $name FAILED: $m"))
    out
  }

  /** @return (successful name→(min seconds, samples) in input order,
    *         name→error) */
  private[graft] def run(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String)
      : (Seq[(String, (Double, Seq[Double]))], Seq[(String, String)]) = {
    val results = queries.map { case (name, fn) =>
      name -> benchOne(spark, name, fn, sfDir)
    }
    (results.collect { case (n, Right(t)) => n -> t },
      results.collect { case (n, Left(m)) => n -> m })
  }

  /** The mode named by `args`, checked before any session starts.
    * @throws IllegalArgumentException (naming the modes) on a bad
    *         command line
    */
  private[graft] def mode(args: Seq[String],
      sfDir: String): SparkSession => Unit = args match {
    case Seq() => full(_, sfDir)
    case "slice" +: qs if qs.nonEmpty => s => qs.foreach { q =>
      val r = benchOne(s, q, SparkEntry.queries(q), sfDir)
      println(r.fold(m => s"[slice] $q FAILED: $m",
        t => f"[slice] $q ${t._1}%.2f s"))
    }
    case Seq("ab", prop, a, b, qs @ _*) if qs.nonEmpty =>
      ab(_, sfDir, prop, a, b, qs)
    case "prof" +: qs if qs.nonEmpty => prof(_, sfDir, qs)
    case Seq("plans", outDir, tag, qs @ _*) if qs.nonEmpty =>
      plans(_, sfDir, outDir, tag, qs)
    case _ => throw new IllegalArgumentException(usage)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val body = mode(args.toSeq, sfDir)
    val spark = GraftSession.local(cpus, "graft-bench")
    warm(spark, sfDir)
    body(spark)
    spark.stop()
  }

  private def full(spark: SparkSession, sfDir: String): Unit = {
    val (times, errors) = run(spark,
      SparkEntry.queries.toSeq.sortBy(_._1), sfDir)
    val qs = times.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, m) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = times.map(_._2._1).sum
    // total repeated at the END: the driver archives a tail-truncated
    // copy of this line, which can cut the leading "value" field
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"sf":"$sfDir","total_sec":$total}"""
    println(line)
    // the driver caps the archived stdout tail at 2,000 chars, which has
    // destroyed the per-query dict two rounds running — persist the full
    // line to durable files too (repo copy gets committed as evidence).
    // The FILE copies additionally carry every timed sample per query
    // ("samples", run order), so same-code window drift is attributable
    // from the artifact alone (r21, VERDICT-r20 #6); the printed line
    // stays sample-free — the driver's archived tail is char-capped.
    val ss = times.map { case (k, (_, sm)) =>
      "\"" + k + "\":[" + sm.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val fileLine = line.dropRight(1) + s""","samples":$ss}"""
    for (p <- Seq("/tmp/graft_bench.json", "/root/repo/BENCH_FULL.json")) {
      try {
        Files.write(Paths.get(p),
          (fileLine + "\n").getBytes("UTF-8"))
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
  }

  /** Each query under two arms INTERLEAVED in one JVM — arm A and arm B
    * alternate rep by rep, so host-window drift (BASELINE §noise:
    * same-code spreads of 1.5-2× across minutes) hits both arms equally
    * instead of poisoning a sequential compare. An arm is a `spark.*`
    * runtime conf or else a JVM system property read at query
    * construction (e.g. graft.rank.fullstage). Prints min and median of
    * 3 reps per arm.
    */
  private def ab(spark: SparkSession, sfDir: String, prop: String,
      a: String, b: String, names: Seq[String]): Unit = names.foreach { q =>
    def arm(v: String): Double = {
      if (prop.startsWith("spark.")) spark.conf.set(prop, v)
      else sys.props(prop) = v
      try timed(spark)(noop(SparkEntry.queries(q)(spark, sfDir)))
      finally if (!prop.startsWith("spark.")) sys.props.remove(prop)
    }
    arm(a); arm(b) // warm both arms (codegen differs per arm)
    val runs = Seq.fill(3)(Seq(a -> arm(a), b -> arm(b))).flatten
    def stats(v: String): String = {
      val t = runs.collect { case (`v`, s) => s }.sorted
      f"$prop=$v min=${t.head}%.2f med=${t(t.size / 2)}%.2f"
    }
    println(s"[ab] $q ${stats(a)} | ${stats(b)}")
  }

  /** Every Spark JOB of one timed run after an untimed warmup — wall
    * seconds, stages, tasks, input and shuffle bytes — so a multi-job
    * operator's time can be attributed to its internal phases (the UI
    * is disabled in bench sessions; this is the listener-level Jobs
    * page). `build` is query construction (eager sub-jobs, e.g. CC);
    * `jobs-covered` is the union of job intervals, so the rest of the
    * wall is driver-side planning/codegen/commit between jobs.
    */
  private def prof(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    final class Job(val desc: String, val t0: Long) {
      var t1, input, shufRead, shufWrite = 0L
      var stages, tasks = 0
    }
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.map(_.name).lastOption.getOrElse(""))
        jobs.synchronized {
          jobs(e.jobId) = new Job(desc, e.time)
          e.stageIds.foreach(stageToJob(_) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          for (j <- stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)) {
            j.stages += 1
            j.tasks += e.stageInfo.numTasks
            Option(e.stageInfo.taskMetrics).foreach { m =>
              j.input += m.inputMetrics.bytesRead
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
    val sc = spark.sparkContext
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    names.foreach { q =>
      val fn = SparkEntry.queries(q)
      try noop(fn(spark, sfDir)) catch { case e: Throwable =>
        System.err.println(s"[prof] $q warmup FAILED: $e") }
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      sc.addSparkListener(listener)
      var t0, tBuild = 0L
      val sec =
        try timed(spark) {
          t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          tBuild = System.nanoTime()
          noop(df)
        } finally {
          // deliver every posted event before detaching, else a job can
          // print with t1 = 0 (a negative wall)
          GraftBridge.drainListenerBus(sc)
          sc.removeSparkListener(listener)
        }
      val build = (tBuild - t0) / 1e9
      jobs.synchronized {
        val covered = jobs.values.map(j => (j.t0, j.t1)).toSeq.sorted
          .foldLeft((0L, 0L)) { case ((sum, hi), (a, b)) =>
            (sum + math.max(0L, b - math.max(a, hi)), math.max(hi, b))
          }._1 / 1e3
        println(f"[prof] ===== $q total $sec%.2f s (build $build%.2f, " +
          f"action ${sec - build}%.2f, jobs-covered $covered%.2f), " +
          s"${jobs.size} jobs =====")
        jobs.foreach { case (id, j) =>
          println(f"[prof] job $id%3d ${(j.t1 - j.t0) / 1e3}%7.2f s " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
            f"in=${mb(j.input)}%8s MB sr=${mb(j.shufRead)}%8s MB " +
            f"sw=${mb(j.shufWrite)}%8s MB  ${j.desc.take(80)}")
        }
      }
    }
  }

  /** The FULL `explain("formatted")` of each query to
    * `<outDir>/<query>_<tag>.txt` — before/after plan evidence
    * (plans/r21, plans/r22): Exchange counts, join strategies,
    * PushedFilters and ReadSchema all on record.
    */
  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      val p = Paths.get(outDir, s"${q}_$tag.txt")
      Files.writeString(p, SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println(s"[plans] wrote $p")
    }
  }
}
