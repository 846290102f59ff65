package graft.migrate

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line front end for [[Migrator]] — the analogue of the
  * reference consuming `MooseX::Getopt::Dashes` (Core.pm:15-20): every
  * public attribute is a dashed option, so the migrator is a runnable
  * tool (cron/CI `spark-submit --class graft.migrate.MigratorCli`), not
  * just a library.
  *
  * Options mirror the reference's getopt surface (Core.pm:33-118):
  * `--database` `--username` `--password` `--host` `--port`
  * `--migration-table` `--migrations-dir` `--schema-file` `--verbose`
  * `--quiet` `--dry-run`, plus `--user` as the `username` alias
  * (BUILDARGS, Core.pm:121-131) and `--sql-cli` for the native-client
  * DDL path (M11). Both `--opt value` and `--opt=value` spellings are
  * accepted; unknown options fail fast with usage, like getopt.
  */
object MigratorCli {

  val usage: String =
    """usage: MigratorCli --database NAME --migrations-dir DIR
      |  [--schema-file FILE] [--migration-table NAME]
      |  [--username U | --user U] [--password P] [--host H] [--port N]
      |  [--sql-cli CMD] [--dry-run] [--verbose] [--quiet]""".stripMargin

  private val valueOpts = Set("database", "migrations-dir", "schema-file",
    "migration-table", "username", "user", "password", "host", "port",
    "sql-cli")
  private val flagOpts = Set("dry-run", "verbose", "quiet")

  /** argv → option map (dashed names, flags mapped to "true"). */
  def parse(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String],
        acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case opt :: tail if opt.startsWith("--") =>
        val body = opt.drop(2)
        val (name, inline) = body.indexOf('=') match {
          case -1 => (body, None)
          case i => (body.take(i), Some(body.drop(i + 1)))
        }
        if (flagOpts(name)) {
          require(inline.isEmpty, s"--$name takes no value")
          loop(tail, acc + (name -> "true"))
        } else if (valueOpts(name)) inline match {
          case Some(v) => loop(tail, acc + (name -> v))
          case None => tail match {
            case v :: t2 if !v.startsWith("--") => loop(t2, acc + (name -> v))
            case _ => throw new IllegalArgumentException(
              s"--$name requires a value\n$usage")
          }
        } else throw new IllegalArgumentException(
          s"unknown option --$name\n$usage")
      case stray :: _ => throw new IllegalArgumentException(
        s"unexpected argument '$stray'\n$usage")
    }
    loop(args.toList, Map.empty)
  }

  /** Build the [[Migrator]] an argv describes (separated from `main` so
    * tests and embedding tools can drive argv against their own session
    * and adapter).
    */
  def build(spark: SparkSession, args: Seq[String],
      adapter: DbmsAdapter = null,
      logSink: String => Unit = s => Console.err.println(s)): Migrator = {
    val o = parse(args)
    def req(name: String): String = o.getOrElse(name,
      throw new IllegalArgumentException(s"--$name is required\n$usage"))
    Migrator(
      spark = spark,
      database = req("database"),
      migrationsDir = Paths.get(req("migrations-dir")),
      schemaFile = o.get("schema-file").map(Paths.get(_): Path),
      migrationTable = o.getOrElse("migration-table", "applied_migration"),
      user = o.get("user"),
      username = o.get("username"),
      dryRun = o.contains("dry-run"),
      verbose = o.contains("verbose"),
      quiet = o.contains("quiet"),
      adapter = adapter,
      sqlCli = o.get("sql-cli").map(_.split("\\s+").toSeq),
      logSink = logSink)
  }

  /** The runnable tool: parse argv, create-or-update, exit nonzero on
    * failure (Core.pm:140 createOrUpdate is the reference tool's verb).
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      "graft-migrate")
    try build(spark, args.toIndexedSeq).createOrUpdate()
    catch {
      case e: IllegalArgumentException =>
        Console.err.println(e.getMessage)
        sys.exit(2)
    } finally spark.stop()
  }
}
