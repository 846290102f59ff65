package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that graft's driver-side
  * reader ([[graft.sources.Parquet]]) calls. They are `private[parquet]` /
  * `private[spark]`, so — like [[org.apache.spark.sql.GraftBridge]] for
  * `sql` — they are exposed from inside Spark's own package rather than
  * copied. Each one is the function `ParquetUtils.inferSchema` and
  * `ParquetFileFormat.mergeSchemasInParallel` themselves call.
  */
object GraftParquetBridge {

  /** The session's Hadoop conf, the one inference reads footers with. */
  def hadoopConf(spark: SparkSession): Configuration =
    SessionStateHelper.getHadoopConf(spark)

  /** `mergeSchema` as a plain read resolves it (the session default). */
  def mergeSchema(spark: SparkSession): Boolean =
    new ParquetOptions(Map.empty[String, String],
      SessionStateHelper.getSqlConf(spark)).mergeSchema

  /** A glob path: Spark expands it before listing. */
  def isGlob(path: Path): Boolean = SparkHadoopUtil.get.isGlobPath(path)

  /** Spark's hidden-file rule for one path component (`_x`, `.x`,
    * `x._COPYING_`; summary files and `k=v` dirs are kept). */
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)

  /** One file's schema from its footer alone (row groups skipped), read
    * on the calling thread: the Spark-row metadata when the writer left
    * it, else the converted parquet schema — with the converter built
    * from the session confs exactly as `mergeSchemasInParallel` builds
    * it, so confs such as `nanosAsLong` apply as of this call.
    */
  def footerSchema(spark: SparkSession, file: FileStatus,
      conf: Configuration): StructType = {
    val sql = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sql.parquetReaderRespectUnknownTypeAnnotation)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, meta), converter)
  }
}
