package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sources/sinks (SURVEY IO1–IO4) behind one small façade.
  *
  * Scale rules baked in:
  *  - Schemas are passed explicitly for text formats (CSV/JSON) —
  *    inference is a full extra pass over 100 TB and is never done here
  *    unless explicitly requested.
  *  - Parquet schemas come from one footer read on the driver
  *    ([[Parquet.read]]), never from Spark's per-read inference job.
  *  - Parquet/ORC readers keep Catalyst pushdown/pruning intact (assert
  *    via PlanSpec); writers support partitioning so downstream scans
  *    prune files.
  */
object DataIO {

  // ------------------------------------------------------------- reads

  def parquet(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)

  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.options(options)
      .option("header", header.toString)
      .schema(schema)
      .csv(path)

  /** CSV with schema inference — an explicit, separate entry point
    * because inference costs an extra full read.
    */
  def csvInferred(spark: SparkSession, path: String,
      header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString)
      .option("inferSchema", "true").csv(path)

  /** JSON Lines (one object per line — the only JSON layout that splits
    * across workers; multiline JSON cannot be parallelized).
    */
  def jsonLines(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(r.schema).json(path)
  }

  // ------------------------------------------------------------ writes

  def write(df: DataFrame, path: String, format: String = "parquet",
      mode: SaveMode = SaveMode.Overwrite,
      partitionBy: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format(format).mode(mode).options(options)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .save(path)
  }

  def writeCsv(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    write(df, path, "csv", mode, options = Map("header" -> "true"))

  def writeJsonLines(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    write(df, path, "json", mode)

  def writeOrc(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    write(df, path, "orc", mode)
}
