package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry/loaders for the graft star schema (see TESTDATA.md).
  *
  * At 100 TB the big tables (`lineitem`, `events`, `documents`) arrive as
  * many-file partitioned parquet; a directory read through [[Parquet]]
  * scales transparently, and its schema comes from one footer on the
  * driver, so loading a table runs no job. Dimension tables stay
  * broadcast-size.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimensions small enough to always broadcast, at any scale factor. */
  val broadcastDims: Set[String] = Set("region", "nation", "supplier")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$dir/events.parquet")
    else if (name == "embeddings") {
      // parquet declares array elements nullable even when no element is
      // null; re-declare containsNull = false (asserted, once per row)
      // so the native vector kernels emit their branch-free loops — the
      // per-PAIR element null checks they'd otherwise need cost ~1.6×
      // on the n² similarity joins
      import org.apache.spark.sql.functions.col
      Parquet.read(spark, s"$dir/$name.parquet")
        .withColumn("embedding", org.apache.spark.sql.GraftBridge.column(
          graft.functions.KnownNonNullElements(
            org.apache.spark.sql.GraftBridge.expression(col("embedding")))))
    } else Parquet.read(spark, s"$dir/$name.parquet")

  /** Load the events table, tolerant of how its `ts` column was encoded.
    *
    * Generators have shipped `ts` both as parquet TIMESTAMP(NANOS) — which
    * Spark only reads as raw int64 under `legacy.parquet.nanosAsLong` — and
    * as TIMESTAMP(MICROS) (isAdjustedToUTC=false → TimestampNTZType). The
    * loader dispatches on the *loaded* dtype so a testdata regeneration
    * can't break every event-time query again. Surfaced columns:
    *   ts_ms — epoch millis (matches DuckDB `epoch_ms(ts)` exactly, so
    *           oracle comparisons never hit sub-ms truncation gaps)
    *   ts    — ms-truncated TimestampType, identical under either encoding
    */
  def loadEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the read resolves the schema, so a footer Spark cannot type fails
    // here, not at the first action
    val raw =
      try Parquet.read(spark, path)
      catch {
        // TIMESTAMP(NANOS) footer: only typed (as raw int64 nanos) with
        // the flag set; the resolved LongType schema then reads right
        // with it unset, so the caller's value comes back after the read
        case e: Exception if e.getMessage != null &&
            e.getMessage.contains("NANOS") =>
          val flag = "spark.sql.legacy.parquet.nanosAsLong"
          val prev = spark.conf.getAll.get(flag) // None when unset
          spark.conf.set(flag, "true")
          try Parquet.read(spark, path)
          finally prev.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))
      }
    val withMs = raw.schema("ts").dataType match {
      // integer `div`, NOT `/`: epoch-nanos overflow double's 53-bit
      // mantissa, so floating division is off by ±1ms on some rows
      case LongType => raw.withColumn("ts_ms", expr("ts div 1000000"))
      case _: TimestampType =>
        raw.withColumn("ts_ms", unix_millis(col("ts")))
      case _: TimestampNTZType =>
        // session timeZone is pinned UTC (GraftSession.tune), so the
        // NTZ→TZ cast is shift-free and matches DuckDB's naive epoch_ms
        raw.withColumn("ts_ms", unix_millis(col("ts").cast(TimestampType)))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
    withMs.withColumn("ts", timestamp_millis(col("ts_ms")))
  }

  /** Register every table as a temp view so `spark.sql` works directly. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** One-time warehouse-layout step (SURVEY IO7): persist `name` from
    * `dir` as a CATALOG table hash-bucketed on `keys` (optionally
    * sorted in-bucket). After it, an equi-join between two tables
    * bucketed the same way — or a groupBy on the keys — plans with
    * ZERO Exchange: the parquet scan itself reports the hash
    * distribution, so Catalyst drops the shuffle (plan-gated in
    * BucketedLayoutSpec). This is the once-per-table cost that, at
    * 100 TB, replaces a per-QUERY re-shuffle of the fact table; the
    * matching layout MIGRATION for tables already in the catalog is
    * [[graft.migrate.SchemaEvolution.rebucket]].
    *
    * @return the catalog table name
    *         (`<name>_by_<keys>_b<numBuckets>[_s<sortCols>]` — key- AND
    *         sort-qualified so distinct layouts of one table coexist)
    */
  def registerBucketed(spark: SparkSession, dir: String, name: String,
      numBuckets: Int, keys: Seq[String],
      sortCols: Seq[String] = Nil): String = {
    require(numBuckets > 0 && keys.nonEmpty,
      "registerBucketed needs numBuckets > 0 and at least one key")
    val sortTag =
      if (sortCols.isEmpty) "" else s"_s${sortCols.mkString("_")}"
    val table = s"${name}_by_${keys.mkString("_")}_b$numBuckets$sortTag"
    var w = load(spark, dir, name).write.format("parquet")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
    table
  }
}
