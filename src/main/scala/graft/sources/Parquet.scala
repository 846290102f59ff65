package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** The one parquet reader: a plain `spark.read.parquet` whose schema is
  * resolved on the driver from one footer, so building the frame runs no
  * Spark job.
  *
  * Without a schema, Spark infers one with a one-task job
  * (`mergeSchemasInParallel`) on every read — once per table per query,
  * and once per committed segment on a segmented ledger read. With
  * `mergeSchema` off that job reads exactly one footer: `_common_metadata`,
  * else `_metadata`, else the first data file in path order. This reader
  * picks the same file from the same hidden-file-filtered listing, reads
  * its footer on the calling thread and converts it with Spark's own
  * footer→schema function, then hands the schema to `spark.read.schema`.
  *
  * Nothing is cached: a rewritten table is resolved afresh on the next
  * read, and parquet confs (`nanosAsLong`, …) are read at call time. When
  * no footer resolves the schema — a missing path, a glob, a directory
  * with no data file, an unreadable or unconvertible footer, or
  * `mergeSchema` on — the call goes to `spark.read.parquet` unchanged, so
  * the result or the error is Spark's own.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    via(spark.read, spark, paths, paths)

  /** [[read]] of several `roots` as ONE relation under `basePath`: the
    * `k=v` dirs between the base and each root (a segment ledger's
    * `seg=k`) become partition columns, discovered by Spark as for any
    * partitioned table. The roots are one table's parts written alike,
    * so the schema comes from the first root in path order alone: the
    * driver lists one root, not all of them (Spark lists them all
    * again to plan the scan).
    */
  def readUnder(spark: SparkSession, basePath: String,
      roots: Seq[String]): DataFrame =
    via(spark.read.option("basePath", basePath), spark, roots,
      roots.sorted.take(1))

  private def via(reader: DataFrameReader, spark: SparkSession,
      paths: Seq[String], footerFrom: Seq[String]): DataFrame =
    footerSchema(spark, footerFrom) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None => reader.parquet(paths: _*)
    }

  private val summaries =
    Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)

  /** The schema Spark's inference would return for `paths`, or None. */
  private def footerSchema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] =
    try {
      val roots = paths.map(new Path(_))
      if (roots.isEmpty || roots.exists(GraftParquetBridge.isGlob) ||
          GraftParquetBridge.mergeSchema(spark)) None
      else {
        val conf = GraftParquetBridge.hadoopConf(spark)
        val files = roots.flatMap { r =>
          val fs = r.getFileSystem(conf)
          leaves(fs, fs.getFileStatus(r))
        }.sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named(PARQUET_COMMON_METADATA_FILE)
          .orElse(named(PARQUET_METADATA_FILE))
          .orElse(files.find(f => !summaries(f.getPath.getName)))
          .map(GraftParquetBridge.footerSchema(spark, _, conf))
      }
    } catch { case NonFatal(_) => None }

  /** The files Spark's index offers inference under one root: the root
    * itself when it is a file, else its visible files plus, recursively,
    * those of its `k=v` partition directories (files in any other
    * sub-directory are not part of the table).
    */
  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => GraftParquetBridge.hidden(c.getPath.getName))
      .flatMap { c =>
        if (!c.isDirectory) Seq(c)
        else if (c.getPath.getName.contains("=")) leaves(fs, c)
        else Nil
      }
}
