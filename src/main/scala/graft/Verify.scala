package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run each query, writing `outDir/<name>` parquet on success and an
    * `outDir/<name>.err` artifact on failure — a failed query must be a
    * LOUD driver-visible row, not a silently missing one (the r5 d9
    * crash vanished from CORRECTNESS with only a stderr line). Any
    * stale success parquet for a now-failing query is removed so the
    * driver can never compare against a previous run's rows.
    * @return per-query error message, None on success
    */
  private[graft] def runQueries(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Map[String, Option[String]] = {
    new java.io.File(outDir).mkdirs()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    queries.map { case (name, fn) =>
      val err =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          Files.deleteIfExists(Paths.get(s"$outDir/$name.err"))
          None
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          rm(new java.io.File(s"$outDir/$name"))
          Files.writeString(Paths.get(s"$outDir/$name.err"), msg)
          Some(msg)
        }
      Bench.clear(spark) // isolate queries
      name -> err
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query names — dev-only filter]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the profile Bench times is the profile the oracle gate checks
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    val failed = runQueries(spark,
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir).collect { case (n, Some(m)) => n -> m }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: " +
        failed.keys.toSeq.sorted.mkString(", "))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
