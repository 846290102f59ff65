package graft.migrate

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import org.apache.spark.sql.SparkSession

/** Spark-native re-expression of `Database::Migrator::Core`
  * (reference: lib/Database/Migrator/Core.pm).
  *
  * Semantics preserved from the reference:
  *  - `createOrUpdate()` (Core.pm:140-155): create the database + run the
  *    full-schema DDL only when the database is absent, then apply all
  *    pending migrations.
  *  - A migration is a directory under `migrationsDir`; pending = not in
  *    the ledger table; both dirs and the files inside run in
  *    numeric-or-alpha order (Core.pm:277-284).
  *  - Step dispatch (Core.pm:160-203): `*.sql` files run as SQL scripts;
  *    executable files run as external programs which fail on nonzero
  *    exit OR nonempty stderr; anything else is eval'd source code called
  *    with the migrator (here: a Scala `Migrator => Unit` compiled at
  *    runtime, the analogue of Perl `eval_closure`).
  *  - Ledger (Core.pm:203-210): after a migration succeeds its name is
  *    inserted into `migrationTable` (single text column `migration`);
  *    if the ledger table does not exist every migration is pending
  *    (bootstrap, Core.pm:215-227); re-running is a no-op.
  *  - `dryRun` logs the plan, executes nothing, records nothing
  *    (including the ledger insert, Core.pm:203). Code steps are still
  *    compiled so a dry run surfaces compile errors, like `eval_closure`.
  *  - `quiet` + `verbose` are mutually exclusive (Core.pm:134-138);
  *    `user` is an alias for `username` (Core.pm:121-131).
  *
  * Scale note: the ledger is driver-size metadata (one row per
  * migration) — reading it with a collect is correct at any scale; the
  * DATA work happens inside the migration SQL, which is distributed
  * Spark SQL (bulk backfills/copies run as full cluster jobs).
  */
final class Migrator(
    val spark: SparkSession,
    val database: String,
    val migrationsDir: Path,
    val schemaFile: Option[Path] = None,
    val migrationTable: String = "applied_migration",
    val username: Option[String] = None,
    val password: Option[String] = None,
    val host: Option[String] = None,
    val port: Option[Int] = None,
    val dryRun: Boolean = false,
    val verbose: Boolean = false,
    val quiet: Boolean = false,
    val adapter: DbmsAdapter = null,
    val sqlCli: Option[Seq[String]] = None,
    logSink: String => Unit = s => Console.err.println(s)) {

  // Constructor validation — the analogue of the reference's Moose type
  // constraints (lib/Database/Migrator/Types.pm:1-29 provides Str/Dir/
  // File/Maybe[Str] etc.; Moose rejects bad attrs at construction, so we
  // do too rather than failing mid-migration).
  require(!(quiet && verbose), "Cannot be both quiet and verbose")
  require(database.trim.nonEmpty, "database name must be non-empty")
  require(migrationTable.trim.nonEmpty, "migration table must be non-empty")
  port.foreach(p =>
    require(p >= 1 && p <= 65535, s"port must be in [1, 65535], got $p"))
  require(Files.isDirectory(migrationsDir),
    s"migrations dir does not exist or is not a directory: $migrationsDir")
  schemaFile.foreach(f => require(Files.isRegularFile(f),
    s"schema file does not exist: $f"))
  sqlCli.foreach(c =>
    require(c.nonEmpty, "sqlCli must name a command when provided"))

  private val dbms: DbmsAdapter =
    Option(adapter).getOrElse(new SparkCatalogAdapter(spark))

  val logger = new MigrationLogger(quiet, verbose, logSink)

  // ------------------------------------------------------------ public

  /** Core.pm:140 `create_or_update_database`. */
  def createOrUpdate(): Unit = {
    if (dbms.databaseExists(database)) {
      logger.debug(s"The $database database already exists")
    } else if (dryRun) {
      logger.info(s"Dry run - would create database $database")
      schemaFile.foreach(f => logger.info(s"Dry run - would run DDL in $f"))
    } else {
      dbms.createDatabase(database)
      schemaFile.foreach(f => runSqlStep(f))
    }
    pendingMigrations().foreach(runOneMigration)
  }

  def databaseExists(): Boolean = dbms.databaseExists(database)

  def dropDatabase(): Unit = dbms.dropDatabase(database)

  /** Pending = migration dirs not yet in the ledger, sorted (Core.pm:215). */
  def pendingMigrations(): Seq[Path] = {
    val ran = appliedMigrations().toSet
    children(migrationsDir)
      .filter(Files.isDirectory(_))
      .filterNot(p => ran(p.getFileName.toString))
      .sortWith((a, b) =>
        NumericOrAlpha.lt(a.getFileName.toString, b.getFileName.toString))
  }

  /** Ledger contents; empty when the ledger table doesn't exist yet. */
  def appliedMigrations(): Seq[String] =
    dbms.appliedMigrations(database, migrationTable).getOrElse(Seq.empty)

  // ----------------------------------------------------------- private

  private def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val st = Files.list(dir) // must close: each list() holds an fd open
      try st.iterator().asScala.toSeq
        .filterNot(_.getFileName.toString.startsWith(".")) // no_hidden
      finally st.close()
    }

  /** Core.pm:160 `_run_one_migration`. */
  private def runOneMigration(migration: Path): Unit = {
    val name = migration.getFileName.toString
    logger.info(s"Running migration - $name")

    val files = children(migration)
      .filterNot(Files.isDirectory(_))
      .sortWith((a, b) =>
        NumericOrAlpha.lt(a.getFileName.toString, b.getFileName.toString))

    files.foreach { file =>
      val base = file.getFileName.toString
      // deliberate divergence: the reference's /\.sql/ (Core.pm:171)
      // also matches e.g. "x.sql.bak"; we require the .sql suffix
      if (base.endsWith(".sql")) {
        logger.debug(s" - running $base as sql")
        runSqlStep(file)
      } else if (Files.isExecutable(file)) {
        logger.debug(s" - running $base as a separate program")
        if (!dryRun) runProcess(Seq(), file) // Core.pm:183-190
      } else {
        logger.debug(s" - running $base as scala code")
        val fn = ScalaEval.compile(Files.readString(file)) // compile even on dry runs
        if (!dryRun) fn(this)
      }
    }

    if (!dryRun) recordApplied(name)
  }

  /** `.sql` steps run through the DBMS adapter by default. When `sqlCli`
    * is set they instead shell out to the database's NATIVE command-line
    * client with the file appended (the reference's `_run_ddl` shape —
    * each DBMS subclass builds `mysql`/`psql` argv and feeds it the DDL,
    * e.g. Core.pm:150/:178 via the Pg/mysql `_run_ddl` impls). That is
    * what migrations relying on client-side directives (psql `\\copy`,
    * `\\set`) need; failure contract matches the external-program step:
    * nonzero exit OR nonempty stderr.
    */
  private def runSqlStep(file: Path): Unit =
    if (dryRun) logger.info(s"Dry run - would run DDL in $file")
    else sqlCli match {
      case Some(cmd) => runProcess(cmd, file)
      case None => dbms.runDdl(database, Files.readString(file))
    }

  /** One process step — an external program (empty `cmd`) or the
    * `sqlCli` client: runs `cmd` with `file`'s absolute path appended;
    * fails on nonzero exit OR nonempty stderr.
    */
  private def runProcess(cmd: Seq[String], file: Path): Unit = {
    val stderr = new StringBuilder
    val exit = Process(cmd :+ file.toAbsolutePath.toString)
      .!(ProcessLogger(_ => (), e => stderr.append(e).append('\n')))
    if (exit != 0 || stderr.nonEmpty)
      throw new RuntimeException(s"$file failed: $stderr")
  }

  /** Core.pm:203 — record through the adapter's ledger. */
  private def recordApplied(name: String): Unit =
    dbms.recordMigration(database, migrationTable, name)
}

object Migrator {

  /** `user` is accepted as an alias for `username` (Core.pm:121-131). */
  def apply(
      spark: SparkSession,
      database: String,
      migrationsDir: Path,
      schemaFile: Option[Path] = None,
      migrationTable: String = "applied_migration",
      user: Option[String] = None,
      username: Option[String] = None,
      dryRun: Boolean = false,
      verbose: Boolean = false,
      quiet: Boolean = false,
      adapter: DbmsAdapter = null,
      sqlCli: Option[Seq[String]] = None,
      logSink: String => Unit = s => Console.err.println(s)): Migrator =
    new Migrator(spark, database, migrationsDir, schemaFile, migrationTable,
      username = username.orElse(user), dryRun = dryRun, verbose = verbose,
      quiet = quiet, adapter = adapter, sqlCli = sqlCli, logSink = logSink)
}

/** Core.pm:277-284 `_numeric_or_alpha_sort`: names matching `^(\d+)(.+)`
  * compare by (numeric prefix, remainder); non-matching names compare as
  * (0, ""). We add the full name as a final tiebreak so ordering is
  * total and deterministic (Perl's sort leaves ties unspecified).
  */
object NumericOrAlpha {
  private val Re = "^(\\d+)(.+)$".r

  def key(name: String): (Long, String, String) = name match {
    case Re(num, alpha) => (num.toLong, alpha, name)
    case _ => (0L, "", name)
  }

  def lt(a: String, b: String): Boolean = {
    val (an, aa, at) = key(a)
    val (bn, ba, bt) = key(b)
    if (an != bn) an < bn
    else if (aa != ba) aa < ba
    else at < bt
  }
}

/** Runtime compilation of Scala migration steps — the analogue of the
  * reference's `eval_closure` (Core.pm:195-201). Step files contain a
  * Scala expression of type `graft.migrate.Migrator => Unit`.
  */
object ScalaEval {
  import scala.tools.reflect.ToolBox

  private lazy val tb =
    scala.reflect.runtime.currentMirror.mkToolBox()

  def compile(source: String): Migrator => Unit =
    tb.eval(tb.parse(source)).asInstanceOf[Migrator => Unit]
}
