package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.queries.QueryDef

/** The op sets of the two query workloads. */
object QuerySets {
  val analytics: Seq[String] = Seq("q1_agg", "q2_filter_project",
    "q3_join_broadcast", "q4_star_join", "q5_window_rank", "q23_percentiles",
    "q29_sessionize")

  val curation: Seq[String] = Seq("p4_training_corpus_v4")
}

/** A workload whose ops are registered queries: an op builds the query's
  * DataFrame over the test tables, then runs it to the noop sink.
  */
final class QueryWorkload(val name: String, opNames: Seq[String],
    dataDir: String, gateDir: String) extends Workload {

  private val defs: Seq[QueryDef] = {
    val byName = graft.SparkEntry.all.map(q => q.name -> q).toMap
    opNames.map(n => byName.getOrElse(n,
      throw new IllegalArgumentException(s"no registered query $n")))
  }
  def ops: Seq[String] = opNames
  /** ScratchCache frames still registered when a traced op ends. */
  var pins = 0L

  private val TapRef =
    (java.util.regex.Pattern.quote(graft.sources.VerifyTap.root) +
      "/([A-Za-z0-9_]+)").r
  /** Every tap an op's oracle reads back, which is every tap it writes. */
  def taps: Seq[String] = defs.flatMap(_.oracle).flatMap(o =>
    TapRef.findAllMatchIn(o).map(_.group(1))).distinct

  def stateFootprint(sinceMs: Long): (Long, Long, Long) = {
    val files = StateDir.entries(dataDir).flatMap(f => Fs.files(f.toPath))
    (files.map(_.length).sum, files.size.toLong,
      files.filter(_.lastModified >= sinceMs).map(_.length).sum)
  }

  def resetState(): Unit =
    StateDir.entries(dataDir).foreach(f => Fs.delete(f.toPath))

  def setup(spark: SparkSession): Unit = {
    graft.sources.Tables.names.foreach(graft.sources.Tables.load(spark, dataDir, _))
    graft.sources.Tables.load(spark, dataDir, "lineitem")
      .groupBy("l_returnflag").count().write
      .format("noop").mode("overwrite").save()
  }

  /** Drop cached and checkpointed blocks so ops do not share them. */
  private def clear(spark: SparkSession): Unit = {
    graft.operators.ScratchCache.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def pass(spark: SparkSession, rng: scala.util.Random,
      tracer: Option[Tracer]): PassResult = {
    val times = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[String]
    val t0 = System.nanoTime()
    rng.shuffle(opNames).foreach { op =>
      clear(spark)
      val s0 = System.nanoTime()
      try {
        runOp(spark, op, tracer)
        times += op -> (System.nanoTime() - s0) / 1e9
      } catch { case e: Throwable => errors += s"$op: ${Errors.describe(e)}" }
    }
    PassResult((System.nanoTime() - t0) / 1e9, times.result(), errors.result())
  }

  private def runOp(spark: SparkSession, op: String,
      tracer: Option[Tracer]): Unit = {
    val q = defs(opNames.indexOf(op))
    tracer match {
      case None =>
        q.build(spark, dataDir).write.format("noop").mode("overwrite").save()
      case Some(t) => t.span("op", op) {
        val df = t.span("build", op)(q.build(spark, dataDir))
        t.span("write", op)(
          df.write.format("noop").mode("overwrite").save())
        pins += graft.operators.ScratchCache.outstanding
      }
    }
  }

  private def digest(df: DataFrame): String =
    Digest.rows(df.collect().toSeq)

  /** One untimed pass after the timed ones, so stateful ops run the same
    * steady-state path the timed passes ran: each op with an oracle
    * writes its output for the DuckDB comparison the runner makes after
    * the JVM exits (its taps are this pass's too); each op without one
    * must give the same digest on two runs.
    */
  def gate(spark: SparkSession, checks: Checks): Unit = {
    Files.createDirectories(Paths.get(gateDir))
    val oracles = defs.flatMap(q => q.oracle.map(q.name -> _))
    Files.writeString(Paths.get(gateDir, "oracle_sql.json"),
      Json.obj(oracles.map { case (n, s) => n -> Json.str(s) }))
    defs.foreach { q =>
      clear(spark)
      checks.attempt(s"gate:${q.name}") {
        val df = q.build(spark, dataDir)
        if (q.oracle.isDefined) {
          df.write.mode("overwrite").parquet(s"$gateDir/${q.name}")
          checks.oracleOps += q.name
          true
        } else {
          val first = digest(df)
          clear(spark)
          val same = first == digest(q.build(spark, dataDir))
          if (!same) checks.note(s"${q.name}: digest differs between runs")
          same
        }
      }
    }
    clear(spark)
  }

  def teardown(spark: SparkSession): Unit = resetState()
}

object Digest {
  private def cell(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Order-insensitive SHA-256 over the rows' canonical text. */
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
