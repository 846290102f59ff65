package perfbench

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.migrate.{DbmsAdapter, Migrator, SparkCatalogAdapter}

/** A generated migration: its directory name, its step files (name,
  * body, executable) and the row count each table it leaves must have,
  * as SQL over the source parquet.
  */
final case class Migration(name: String, files: Seq[(String, String, Boolean)],
    expect: Seq[(String, String)])

/** Generates a seeded migration set over the source tables. The set
  * mixes bulk `.sql` CTAS / INSERT…SELECT (partitioned and not), small
  * DDL-only migrations, Scala code steps calling the migrate library,
  * one external-program step and one partitioned JDBC load. Names are
  * drawn so their numeric-or-alpha order is the dependency order and
  * collides under plain string order (`2-x`, `10-x`, `2-y`).
  */
object MigrationSet {
  val jdbcUrl = "jdbc:derby:memory:perfbench_src"
  val jdbcTable = "PB_SRC"

  private val words = Seq("load", "sync", "fix", "add", "move", "split",
    "tidy", "note", "copy", "merge", "index", "grow")

  def generate(rng: scala.util.Random, dataDir: String, markerDir: String,
      jdbcRows: Int): Seq[Migration] = {
    def src(t: String) = s"parquet.`$dataDir/$t.parquet`"
    def count(t: String, where: String) =
      s"SELECT COUNT(*) FROM ${src(t)} WHERE $where"
    def code(body: String) =
      s"""(m: graft.migrate.Migrator) => {
         |  import org.apache.spark.sql.functions._
         |  val spark = m.spark
         |  val db = m.database
         |  perfbench.StepTimers.time("code_step") {
         |$body
         |  }
         |  ()
         |}""".stripMargin
    // Cut points move only within narrow bands (each keeps 40-60% of its
    // table), so every seed's set does about the same work: the seed
    // varies names, order and values, not how much there is to time.
    val price = 200000 + rng.nextInt(100000)
    val qty = 20 + rng.nextInt(10)
    val segs = rng.shuffle(Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")).take(2)
    val segIn = segs.map(s => s"'$s'").mkString(", ")
    val (mod, rem) = (4 + rng.nextInt(2), rng.nextInt(3))
    val keyCut = 5000 + rng.nextInt(2000)
    val keyEnd = keyCut + 4000 + rng.nextInt(2000)
    val buckets = 3 + rng.nextInt(3)
    val liWhere = s"l_quantity <= $qty"
    val ordWhere = s"o_totalprice > $price"
    val custWhere = s"c_mktsegment IN ($segIn)"

    val bodies: Seq[(Seq[(String, String, Boolean)], Seq[(String, String)])] = Seq(
      Seq(("1-orders.sql",
        s"""CREATE TABLE orders_p USING PARQUET PARTITIONED BY (o_orderpriority)
           |AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |  o_orderdate, o_orderpriority FROM ${src("orders")} WHERE $ordWhere;
           |""".stripMargin, false)) -> Seq("orders_p" -> count("orders", ordWhere)),
      Seq(("1-lineitem.sql",
        s"""CREATE TABLE li USING PARQUET AS SELECT l_orderkey, l_partkey,
           |  l_suppkey, l_linenumber, l_quantity,
           |  l_extendedprice * (1 - l_discount) AS revenue, l_returnflag,
           |  l_shipdate FROM ${src("lineitem")} WHERE $liWhere;
           |""".stripMargin, false)) -> Seq("li" -> count("lineitem", liWhere)),
      Seq(("1-view.sql",
        """CREATE VIEW li_flags AS SELECT l_returnflag, COUNT(*) AS n,
          |  SUM(revenue) AS revenue FROM li GROUP BY l_returnflag;
          |""".stripMargin, false)) -> Nil,
      Seq(("1-create.sql",
        """CREATE TABLE cust_seg (c_custkey BIGINT, c_name STRING,
          |  c_mktsegment STRING, c_acctbal DOUBLE) USING PARQUET;
          |""".stripMargin, false),
        ("2-fill.sql",
          s"""INSERT INTO cust_seg SELECT c_custkey, c_name, c_mktsegment,
             |  c_acctbal FROM ${src("customer")} WHERE $custWhere;
             |""".stripMargin, false)) -> Seq("cust_seg" -> count("customer", custWhere)),
      Seq(("1-note.sql", "ALTER TABLE cust_seg ADD COLUMNS (c_note STRING);\n",
        false)) -> Nil,
      Seq(("bulk.scala", code(
        s"""    perfbench.StepTimers.time("BulkCopy") {
           |      graft.migrate.BulkCopy.copyTable(spark, s"$$db.orders_p",
           |        s"$$db.orders_by_year",
           |        transforms = Seq("o_year" -> year(col("o_orderdate"))),
           |        partitionBy = Seq("o_year"))
           |    }
           |    val updates = spark.read.parquet("$dataDir/customer.parquet")
           |      .where(col("c_custkey") % $mod === $rem)
           |      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
           |        col("c_acctbal"), lit(null).cast("string").as("c_note"))
           |    perfbench.StepTimers.time("BulkCopy") {
           |      graft.migrate.BulkCopy.upsertTable(spark, s"$$db.cust_seg",
           |        updates, Seq("c_custkey"))
           |    }""".stripMargin), false)) -> Seq(
        "orders_by_year" -> count("orders", ordWhere),
        "cust_seg" -> count("customer", s"$custWhere OR c_custkey % $mod = $rem")),
      Seq(("run.sh", s"#!/bin/sh\ntouch '$markerDir/program-step'\n", true)) -> Nil,
      Seq(("incremental.scala", code(
        s"""    val src = spark.read.parquet("$dataDir/orders.parquet")
           |    perfbench.StepTimers.time("BulkCopy") {
           |      graft.migrate.BulkCopy.incrementalCopy(spark,
           |        src.where(col("o_orderkey") < $keyCut), s"$$db.orders_inc",
           |        "o_orderkey")
           |      graft.migrate.BulkCopy.incrementalCopy(spark,
           |        src.where(col("o_orderkey") < $keyEnd), s"$$db.orders_inc",
           |        "o_orderkey")
           |    }""".stripMargin), false)) ->
        Seq("orders_inc" -> count("orders", s"o_orderkey < $keyEnd")),
      Seq(("evolve.scala", code(
        s"""    perfbench.StepTimers.time("SchemaEvolution") {
           |      graft.migrate.SchemaEvolution.addColumnBackfill(spark,
           |        s"$$db.li", "net", col("revenue") * 0.9)
           |      graft.migrate.SchemaEvolution.rebucket(spark, s"$$db.li",
           |        $buckets, Seq("l_orderkey"))
           |    }""".stripMargin), false)) -> Seq("li" -> count("lineitem", liWhere)),
      Seq(("jdbc.scala", code(
        s"""    perfbench.StepTimers.time("JdbcSource") {
           |      val df = graft.sources.JdbcSource("$jdbcUrl", "$jdbcTable",
           |        partitionColumn = Some("ID"), lowerBound = Some(0L),
           |        upperBound = Some(${jdbcRows}L), numPartitions = Some(4))
           |        .load(spark)
           |      df.write.format("parquet").saveAsTable(s"$$db.jdbc_rows")
           |    }""".stripMargin), false)) ->
        Seq("jdbc_rows" -> s"SELECT CAST($jdbcRows AS BIGINT)"),
      Seq(("1-audit.sql",
        "CREATE TABLE audit_note (k STRING, v STRING) USING PARQUET;\n",
        false)) -> Seq("audit_note" -> "SELECT CAST(0 AS BIGINT)"))

    // nondecreasing numeric prefixes with repeats, past 9 at least once
    val prefixes = mutable.ArrayBuffer(1 + rng.nextInt(3))
    while (prefixes.size < bodies.size)
      prefixes += prefixes.last + rng.nextInt(3)
    if (prefixes.distinct.size == prefixes.size) prefixes(2) = prefixes(1)
    if (prefixes.last < 10) prefixes(prefixes.size - 1) = 10 + rng.nextInt(5)
    bodies.zipWithIndex.map { case ((files, expect), i) =>
      val word = words(rng.nextInt(words.size))
      Migration(s"${prefixes(i)}-${('a' + i).toChar}$word", files, expect)
    }
  }

  /** Reference numeric-or-alpha order: (numeric prefix, rest, name). */
  def orderKey(name: String): (Long, String, String) = {
    val m = "^(\\d+)(.+)$".r.findFirstMatchIn(name)
    m.map(x => (x.group(1).toLong, x.group(2), name)).getOrElse((0L, "", name))
  }
}

private final case class Applied(log: Seq[(Long, String)], ledger: Seq[String],
    rerunLog: Seq[(Long, String)], rerunLedger: Seq[String], db: String)

/** Times every adapter call and opens a span for it when tracing. */
final class TimingAdapter(inner: DbmsAdapter, tracer: Tracer,
    totalsNs: mutable.Map[String, Long],
    counts: mutable.Map[String, Long]) extends DbmsAdapter {

  private def timed[T](kind: String)(f: => T): T = {
    if (kind == "ledger_write") tracer.closeIf("step")
    tracer.open(kind, kind)
    val t0 = System.nanoTime()
    try f
    finally {
      totalsNs(kind) = totalsNs.getOrElse(kind, 0L) + System.nanoTime() - t0
      counts(kind) = counts.getOrElse(kind, 0L) + 1
      tracer.close()
    }
  }

  def driverName: String = inner.driverName
  def createDatabase(db: String): Unit = timed("catalog")(inner.createDatabase(db))
  def dropDatabase(db: String): Unit = timed("catalog")(inner.dropDatabase(db))
  def databaseExists(db: String): Boolean =
    timed("catalog")(inner.databaseExists(db))
  def runDdl(db: String, script: String): Unit =
    timed("ddl")(inner.runDdl(db, script))
  def appliedMigrations(db: String, table: String): Option[Seq[String]] =
    timed("ledger_read")(inner.appliedMigrations(db, table))
  def recordMigration(db: String, table: String, name: String): Unit =
    timed("ledger_write")(inner.recordMigration(db, table, name))
}

/** Applies the generated set to a fresh database with
  * `Migrator.createOrUpdate()`, re-runs it (a no-op), then drops the
  * database. An op is one migration, timed from the migrator's own
  * "Running migration" log line to the next one (or the call's end).
  */
final class MigrateWorkload(dataDir: String, runDir: String, seed: Long)
    extends Workload {
  val name = "migrate"
  private val jdbcRows = 5000
  private val migrationsDir = Paths.get(runDir, "migrations")
  private val markerDir = Paths.get(runDir, "markers")
  private val schemaFile = Paths.get(runDir, "schema.sql")
  private val set = MigrationSet.generate(new scala.util.Random(seed),
    dataDir, markerDir.toString, jdbcRows)
  def ops: Seq[String] = set.map(_.name)
  private var passNo = 0
  private val Running = "[info] Running migration - "

  // per-layer totals, filled in traced passes
  val adapterNs = mutable.Map.empty[String, Long]
  val adapterCalls = mutable.Map.empty[String, Long]
  var discoveryNs = 0L
  var rerunNs = 0L
  var programStepNs = 0L
  var ledgerFiles = 0L
  var storedBytes = 0L

  writeSet()

  private def writeSet(): Unit = {
    Fs.delete(migrationsDir)
    Files.createDirectories(markerDir)
    Files.writeString(schemaFile,
      "CREATE TABLE applied_migration (migration STRING) USING PARQUET;\n")
    set.foreach { m =>
      val dir = Files.createDirectories(migrationsDir.resolve(m.name))
      m.files.foreach { case (f, body, exec) =>
        val p = Files.writeString(dir.resolve(f), body)
        if (exec) Files.setPosixFilePermissions(p,
          PosixFilePermissions.fromString("rwxr-xr-x"))
      }
    }
  }

  def resetState(): Unit = ()

  /** Compiles each Scala code step a few more times. Compiling them is
    * most of a pass and the runtime compiler warms slowly: after a single
    * warm pass the first timed pass still ran its code steps 10-30%
    * slower than the second.
    */
  override def warmUp(): Unit = for (_ <- 1 to 3; m <- set;
      (f, body, _) <- m.files if f.endsWith(".scala"))
    graft.migrate.ScalaEval.compile(body)
  def taps: Seq[String] = Nil
  def stateFootprint(sinceMs: Long): (Long, Long, Long) = (0L, 0L, 0L)

  /** Seeds the in-memory Derby source table the JDBC step loads. */
  def setup(spark: SparkSession): Unit = {
    Seq("orders", "lineitem", "customer").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").count()
    }
    dropDerby()
    val c = java.sql.DriverManager.getConnection(
      MigrationSet.jdbcUrl + ";create=true")
    try {
      c.createStatement().execute(s"CREATE TABLE ${MigrationSet.jdbcTable} " +
        "(ID BIGINT, NAME VARCHAR(32), AMOUNT DOUBLE)")
      val ps = c.prepareStatement(
        s"INSERT INTO ${MigrationSet.jdbcTable} VALUES (?, ?, ?)")
      val rng = new scala.util.Random(seed)
      (0 until jdbcRows).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"name-$i")
        ps.setDouble(3, math.rint(rng.nextDouble() * 1e6) / 100)
        ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
  }

  private def dropDerby(): Unit =
    try java.sql.DriverManager.getConnection(
      MigrationSet.jdbcUrl + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // absent, or dropped

  /** Apply to a fresh database, then re-run. A timed pass drops the
    * database as its last step; a checked apply keeps it for the checks
    * and reads both ledgers.
    */
  private def applyOnce(spark: SparkSession, tracer: Option[Tracer],
      checked: Boolean): (Applied, Seq[(String, Double)], Double) = {
    passNo += 1
    val db = s"perfbench_mig_$passNo"
    val t = tracer.getOrElse(new Tracer)
    val log = mutable.ArrayBuffer.empty[(Long, String)]
    val sink: String => Unit = { line =>
      log += System.nanoTime() -> line
      if (tracer.isDefined) {
        if (line.startsWith(Running)) {
          t.closeIf("step"); t.closeIf("op")
          t.open("op", line.stripPrefix(Running))
        } else if (line.startsWith("[debug]  - running ")) {
          t.closeIf("step")
          t.open("step", line.stripPrefix("[debug]  - running "))
        }
      }
    }
    val adapter: DbmsAdapter =
      if (tracer.isEmpty) null
      else new TimingAdapter(new SparkCatalogAdapter(spark), t, adapterNs,
        adapterCalls)
    def migrator() = Migrator(spark, db, migrationsDir, Some(schemaFile),
      verbose = true, adapter = adapter, logSink = sink)

    val t0 = System.nanoTime()
    migrator().createOrUpdate()
    t.closeIf("step"); t.closeIf("op")
    val t1 = System.nanoTime()
    val applyLog = log.toList
    if (tracer.isDefined) { // outside the timed interval
      val dbDir = Paths.get(new java.net.URI(
        spark.sql(s"DESCRIBE DATABASE $db").where("info_name = 'Location'")
          .head().getString(1)))
      storedBytes += Fs.bytes(dbDir)
      ledgerFiles += Fs.files(dbDir.resolve("applied_migration"))
        .count(_.getName.endsWith(".parquet"))
    }
    val ledger = if (checked) migrator().appliedMigrations() else Nil
    log.clear()
    val r0 = System.nanoTime()
    migrator().createOrUpdate()
    val r1 = System.nanoTime()
    val rerunLog = log.toList
    val rerunLedger = if (checked) migrator().appliedMigrations() else Nil
    val d0 = System.nanoTime()
    if (!checked) migrator().dropDatabase()
    val t2 = System.nanoTime()

    val starts = applyLog.filter(_._2.startsWith(Running))
    val ends = starts.drop(1).map(_._1) :+ t1
    val opTimes = starts.zip(ends).map { case ((s, line), e) =>
      line.stripPrefix(Running) -> (e - s) / 1e9
    }
    if (tracer.isDefined) {
      rerunNs += r1 - r0
      discoveryNs += starts.headOption.map(_._1).getOrElse(t1) - t0 + (r1 - r0)
      val next = applyLog.drop(1).map(_._1) :+ t1
      programStepNs += applyLog.zip(next).collect {
        case ((s, line), e) if line.contains("as a separate program") => e - s
      }.sum
    }
    (Applied(applyLog, ledger, rerunLog, rerunLedger, db), opTimes,
      ((t1 - t0) + (r1 - r0) + (t2 - d0)) / 1e9)
  }

  def pass(spark: SparkSession, rng: scala.util.Random,
      tracer: Option[Tracer]): PassResult =
    try {
      val (_, opTimes, wall) = applyOnce(spark, tracer, checked = false)
      PassResult(wall, opTimes, Nil)
    } catch { case e: Throwable =>
      PassResult(Double.NaN, Nil, Seq(s"pass: ${Errors.describe(e)}"))
    }

  /** Untimed checked apply after the timed passes: ledger, apply order
    * from the log sink, a no-op re-run, the external program's effect,
    * every table's row count, and the drop.
    */
  def gate(spark: SparkSession, checks: Checks): Unit = {
    Fs.delete(markerDir.resolve("program-step"))
    var applied: Option[Applied] = None
    checks.attempt("gate:apply") {
      applied = Some(applyOnce(spark, None, checked = true)._1); true
    }
    applied.foreach { a =>
      val names = set.map(_.name)
      checks.attempt("gate:ledger") { a.ledger.sorted == names.sorted }
      checks.attempt("gate:order") {
        val order = a.log.collect {
          case (_, l) if l.startsWith(Running) => l.stripPrefix(Running)
        }
        order == names && order == names.sortBy(MigrationSet.orderKey)
      }
      checks.attempt("gate:rerun") {
        !a.rerunLog.exists(_._2.startsWith(Running))
      }
      checks.attempt("gate:rerun-ledger") {
        a.rerunLedger.sorted == a.ledger.sorted
      }
      checks.attempt("gate:program") {
        Files.exists(markerDir.resolve("program-step"))
      }
      // the last expectation per table is its final row count
      set.flatMap(_.expect).toMap.toSeq.sortBy(_._1).foreach { case (table, sql) =>
        checks.attempt(s"gate:rows:$table") {
          val got = spark.table(s"${a.db}.$table").count()
          val want = spark.sql(sql).head().getLong(0)
          if (got != want) checks.note(s"$table: $got rows, expected $want")
          got == want
        }
      }
      checks.attempt("gate:drop") {
        Migrator(spark, a.db, migrationsDir, Some(schemaFile), quiet = true)
          .dropDatabase()
        !spark.catalog.databaseExists(a.db)
      }
    }
  }

  def teardown(spark: SparkSession): Unit = {
    dropDerby()
    Fs.delete(migrationsDir)
    Fs.delete(markerDir)
  }
}
