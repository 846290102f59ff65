package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * `classic.ExpressionUtils` is `private[sql]`, so — like other Spark
  * extension libraries — we expose the two conversions from inside the
  * `org.apache.spark.sql` package rather than copying their logic.
  */
object GraftBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** The materialized RDD behind a checkpointed Dataset (`LogicalRDD`
    * leaf) — lets iterative operators explicitly release a superseded
    * round's storage instead of letting every round's blocks pile up
    * until the query ends.
    */
  def materializedRdd(df: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Block until the async listener bus has delivered every posted
    * event — a listener read before that can miss a job's end.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Rebase a frame onto its own execution output as a fresh
    * `LogicalRDD` leaf — fresh attribute ids (iterative self-join
    * safety, the ConnectedComponents rebase) WITHOUT the
    * `createDataFrame(df.rdd, schema)` round-trip, which deserializes
    * every row to an external `Row` and re-encodes it. The internal-row
    * RDD evaluates lazily: on a persisted frame it reads the cached
    * blocks (`InMemoryTableScan`), so rebasing costs no job of its own.
    */
  def rebase(df: Dataset[_]): DataFrame =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)

  /** The deepest RDD of `rdd`'s OWN stage — found by walking single
    * narrow (one-to-one) dependencies down to the RDD that reads a
    * shuffle (or has no parent). Running a per-partition job against
    * THIS RDD instead of `rdd` itself skips re-executing every
    * partition-local operator above the shuffle read (for GlobalOrder:
    * the within-partition SORT), while still materializing the same
    * shuffle files the main job then reuses. Per-partition row counts
    * and column sums are identical at both levels ONLY when the
    * operators between the two are row-preserving — GlobalOrder's
    * repartitionByRange + sortWithinPartitions plans satisfy that by
    * construction; a caller with filters/generators above the exchange
    * must not use this.
    */
  private def stageFloor(rdd: org.apache.spark.rdd.RDD[_])
      : org.apache.spark.rdd.RDD[_] = {
    @annotation.tailrec
    def walk(r: org.apache.spark.rdd.RDD[_])
        : org.apache.spark.rdd.RDD[_] =
      r.dependencies match {
        case Seq(d: org.apache.spark.OneToOneDependency[_]) => walk(d.rdd)
        case _ => r
      }
    val floor = walk(rdd)
    // only a SHUFFLE-READING floor is safe to aggregate in place of
    // `rdd`: reaching a leaf (no shuffle in the stage — e.g. an elided
    // exchange) means operators below `rdd` may not be row-preserving,
    // so fall back to the full-stage job (the pre-r22 behavior)
    if (floor.dependencies.exists(
        _.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]]))
      floor
    else rdd
  }

  /** Per-partition aggregate over the stage floor of `rdd` (see
    * [[stageFloor]]): one value per partition, ordered by partition id.
    * The floor and `rdd` share partition structure (narrow chain), so
    * index `i` of the result describes partition `i` of `rdd`.
    */
  private def perPartition[A: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      agg: Iterator[catalyst.InternalRow] => A): Array[A] = {
    // graft.rank.fullstage=1 is the `Bench ab` arm toggle (dev-only)
    // for the r22 stage-floor decision: it restores the pre-r22 behavior
    // of running the offsets job over the full result stage
    val target =
      (if (sys.props.get("graft.rank.fullstage").contains("1")) rdd
      else stageFloor(rdd))
        .asInstanceOf[org.apache.spark.rdd.RDD[catalyst.InternalRow]]
    target.sparkContext.runJob(target,
      (it: Iterator[catalyst.InternalRow]) => agg(it))
  }

  /** Append a 1-based contiguous global index over `df`'s CURRENT
    * partition order as a non-null LONG column — `zipWithIndex` on the
    * INTERNAL row stream (r21). The previous `df.rdd.zipWithIndex`
    * route deserialized every row to an external `Row` and re-encoded
    * it through `createDataFrame` — a per-row codec pass paid by every
    * GlobalOrder rank/cumsum (a dozen queries), the same cost the CC
    * round rebase shed in r21's first commit.
    *
    * The offsets job runs against the STAGE FLOOR (r22): zipWithIndex's
    * hidden count job re-executed the whole result stage — shuffle read
    * plus the within-partition SORT — so every rank paid its sort
    * TWICE. Counting the pre-sort shuffle-read rows is the same count
    * (the sort is row-preserving), materializes the same shuffle files
    * for the main job to reuse, and runs the sort exactly once per
    * rank. The map stays streaming (no buffering), so the reused
    * UnsafeRow each scan yields is consumed before the next arrives,
    * exactly as RDDScanExec's own projection expects.
    */
  def zipWithGlobalIndex(df: Dataset[_], outCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val rdd = df.queryExecution.toRdd
    val counts = perPartition(rdd, it => {
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
    })
    val offsets = counts.scanLeft(0L)(_ + _)
    val bcast = rdd.sparkContext.broadcast(offsets)
    val indexed: org.apache.spark.rdd.RDD[InternalRow] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        var i = bcast.value(pid)
        val extra = new GenericInternalRow(1)
        val joined = new JoinedRow
        it.map { r =>
          i += 1L
          extra.update(0, i)
          joined(r, extra)
        }
      }
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(indexed,
        df.schema.add(outCol, org.apache.spark.sql.types.LongType,
          nullable = false))
  }

  /** Per-partition long sums of ordinal `vIdx` over `df`'s internal
    * rows, via the stage-floor job (see [[zipWithGlobalIndex]] — sums
    * are order-free, so they too can run below the sort). `check`
    * validates each row (fail-fast null contract) before reading.
    */
  def perPartitionLongSums(df: Dataset[_], vIdx: Int,
      check: catalyst.InternalRow => Long): Array[Long] =
    perPartition(df.queryExecution.toRdd, it => {
      var s = 0L
      while (it.hasNext) s += check(it.next())
      s
    })

  /** Wrap an internal-row RDD as a DataFrame (the private
    * `internalCreateDataFrame`, exposed for operators that transform
    * the internal stream directly — GlobalOrder's prefix sum). */
  def internalFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** The internal row stream behind a frame (`queryExecution.toRdd`),
    * typed for callers outside the sql package. */
  def internalRdd(df: Dataset[_])
      : org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** The optimizer's size-in-bytes estimate for a frame — the same
    * statistic the planner itself consults when auto-selecting a
    * broadcast join. Lets operators gate an explicit `broadcast()` hint
    * on "would the planner have broadcast this anyway", instead of
    * forcing a collect of a side whose size they can't know statically.
    */
  def planSizeBytes(df: Dataset[_]): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (-1 = auto-broadcast disabled). `sessionState` is `private[sql]`,
    * hence the bridge. */
  def autoBroadcastThreshold(df: Dataset[_]): Long =
    df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
}
