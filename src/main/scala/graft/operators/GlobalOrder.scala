package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.LongType

/** Exact global ranking without `Window.orderBy(...)` over no partition
  * — Spark's unpartitioned window moves EVERY row to one executor
  * ("Moving all data to a single partition"), which is a hard wall at
  * scale: a 100 TB rank would need one machine to hold 100 TB.
  *
  * Instead: range-repartition on the sort key (each partition holds a
  * contiguous key range), sort within partitions, then run one prefix
  * pass — a rank is the prefix sum of ones, a running sum the prefix
  * sum of a value (Blelloch 1990). Per-partition weight totals are
  * computed once, their `scanLeft` offsets are broadcast, and each
  * partition streams its local running sum on top of its offset. Two
  * jobs over the data; the range-shuffle files are reused by the second
  * job (skipped stage), and no executor ever sees more than one
  * partition's worth.
  *
  * This is one of the rare justified RDD drops: the DataFrame API has no
  * shuffle-free "index within an existing partitioning" (a
  * `Window.partitionBy(spark_partition_id())` would re-shuffle by pid).
  *
  * The sort columns MUST form a total order (include a unique
  * tiebreak). This is a correctness requirement, not just determinism
  * hygiene: [[withGroupedRank]] persists the ranked frame lazily
  * (MEMORY_AND_DISK), so on cache eviction a branch may RECOMPUTE its
  * ranks — under a non-total order the prefix pass could then number
  * tied rows differently between the bounds aggregate and the join
  * branches, producing inconsistent ranks. Every in-repo caller sorts
  * on a unique key (doc_id / (source, doc_id)); a new caller must too.
  */
object GlobalOrder {

  /** A row's weight in the prefix pass. A SAM with a primitive result,
    * so the per-row call boxes nothing (an `InternalRow => Long` would
    * box every weight it returns). */
  private trait Weight extends Serializable { def apply(r: InternalRow): Long }

  private def rangeSorted(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)

  /** The deepest RDD of `rdd`'s OWN stage — found by walking single
    * narrow (one-to-one) dependencies down to the RDD that reads a
    * shuffle (or has no parent). Running the offsets job against THIS
    * RDD instead of `rdd` itself skips re-executing every
    * partition-local operator above the shuffle read (the
    * within-partition SORT), while still materializing the same
    * shuffle files the main job then reuses. Per-partition weight
    * totals are identical at both levels ONLY when the operators
    * between the two are row-preserving — [[rangeSorted]] plans
    * satisfy that by construction.
    */
  private def stageFloor(rdd: org.apache.spark.rdd.RDD[InternalRow])
      : org.apache.spark.rdd.RDD[InternalRow] = {
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
      floor.asInstanceOf[org.apache.spark.rdd.RDD[InternalRow]]
    else rdd
  }

  /** The one prefix pass: append, as non-null LONG `outCol`, the
    * inclusive running sum of `weight` over `sorted`'s CURRENT
    * partition order. It rides the INTERNAL row stream (r21): the old
    * `.rdd.zipWithIndex` + `createDataFrame` route deserialized every
    * row to an external `Row` and re-encoded it, a per-row codec pass
    * paid by every rank/mixture/budget/shard query in the suite.
    *
    * Job 1 (one long per partition) runs at the STAGE FLOOR (r22):
    * weight totals are order-free and the sort is row-preserving, so
    * the offsets job reads the pre-sort shuffle output instead of
    * re-executing the within-partition sort (every rank used to pay
    * its sort twice). Job 2 is streaming (no buffering), so the reused
    * UnsafeRow each scan yields is consumed before the next arrives,
    * exactly as RDDScanExec's own projection expects.
    */
  private def prefix(sorted: DataFrame, outCol: String,
      weight: Weight): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val rdd = sorted.queryExecution.toRdd
    val sc = rdd.sparkContext
    val totals = sc.runJob(stageFloor(rdd), (it: Iterator[InternalRow]) => {
      var s = 0L
      while (it.hasNext) s += weight(it.next())
      s
    })
    val offsets = sc.broadcast(totals.scanLeft(0L)(_ + _)) // sum before pid
    val summed = rdd.mapPartitionsWithIndex { (pid, it) =>
      var run = offsets.value(pid)
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { r =>
        run += weight(r)
        extra.update(0, run)
        joined(r, extra): InternalRow
      }
    }
    (org.apache.spark.sql.GraftBridge.internalFrame(sorted.sparkSession,
      summed, sorted.schema.add(outCol, LongType, nullable = false)),
      totals.sum)
  }

  /** Per-group form of a global prefix column `x` (over a frame whose
    * sort leads with `groupCols`) with per-row weight `w`: a group's
    * rows are contiguous in the global order, so its exclusive offset
    * is min(x − w) over the group, and x − that offset restarts the
    * prefix at each group. The offsets (plus any `extra` aggregates)
    * are a G-row partial aggregate broadcast back onto the rows.
    */
  private def perGroup(g: DataFrame, groupCols: Seq[String], x: String,
      w: Column, extra: Column*): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, min}
    val bounds = g.groupBy(groupCols.map(col): _*)
      .agg(min(col(x) - w).as("__base"), extra: _*)
    g.join(broadcast(bounds), groupCols)
      .withColumn(x, col(x) - col("__base"))
      .drop("__base")
  }

  /** Append 1-based global rank by `sortCols` as column `outCol`. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
      outCol: String = "rank"): DataFrame =
    withGlobalRankAndCount(df, sortCols, outCol)._1

  /** [[withGlobalRank]] plus the row count, which its offsets job has
    * already summed on the driver — a caller that needs N runs no count
    * job of its own.
    */
  def withGlobalRankAndCount(df: DataFrame, sortCols: Seq[Column],
      outCol: String = "rank"): (DataFrame, Long) =
    prefix(rangeSorted(df, sortCols), outCol, _ => 1L)

  /** Append a per-GROUP 1-based rank by `sortCols` within each distinct
    * value of `groupCols` (as `rankCol`), plus the group's row count
    * (as `countCol`) — the scale-safe replacement for
    * `row_number()/count(*) OVER (PARTITION BY group)` when groups are
    * FEW and HUGE (mixture-sampling sources: ~10 groups over the whole
    * corpus). That window funnels each group's entire row set through
    * ONE reducer; here a huge group instead spans many range
    * partitions: compute the GLOBAL rank over (groupCols, sortCols) via
    * [[withGlobalRank]], then rebase it per group ([[perGroup]]:
    * rank_in_group = global − (first − 1)), with the count riding the
    * same G-row aggregate. Exactly the window's semantics, never a
    * per-group reducer wall.
    *
    * Groups must be broadcast-few (the mixture-sampling regime); the
    * sort must be total within a group (unique tiebreak), as with
    * [[withGlobalRank]].
    */
  def withGroupedRank(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], rankCol: String = "rank",
      countCol: String = "n_in_group"): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.storage.StorageLevel
    // share the ranked frame: it feeds the bounds aggregate AND the
    // main join (and consumers like q36 branch it again) — without
    // sharing each branch re-executes the range shuffle + sort +
    // prefix pass per action. LAZY persist, not localCheckpoint: a
    // checkpoint materializes a job at CONSTRUCTION time and its
    // blocks are unevictable and unreleasable until driver GC (they
    // piled up across Verify's 68 query builds), while
    // cache blocks are LRU-evictable, recompute-safe (the ranked sort
    // is deterministic under the required total order), and freed by
    // catalog.clearCache()/Dataset.unpersist.
    val g = withGlobalRank(df, groupCols.map(col) ++ sortCols, rankCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    perGroup(g, groupCols, rankCol, lit(1L), count(lit(1)).as(countCol))
  }

  /** Append the INCLUSIVE running sum of `valueCol` (a long column) in
    * `sortCols` order as `outCol` — the distributed prefix sum, the
    * same pass as [[withGlobalRank]] with the value as the weight.
    * Equivalent to `SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED
    * PRECEDING)` but with no single-partition window wall.
    */
  def withGlobalCumSum(df: DataFrame, sortCols: Seq[Column],
      valueCol: String, outCol: String = "cumsum"): DataFrame = {
    val sorted = rangeSorted(df, sortCols)
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // fail-fast contract (ADVICE r21): the internal-row getLong returns
    // garbage/0 on a mistyped or null cell where the old external-Row
    // path threw — so the type is checked at plan time and nulls per
    // row (one branch per row; the codec pass this path removed cost
    // orders of magnitude more)
    require(sorted.schema(vIdx).dataType == LongType,
      s"withGlobalCumSum: value column '$valueCol' must be LONG, " +
        s"got ${sorted.schema(vIdx).dataType}")
    prefix(sorted, outCol, r => {
      require(!r.isNullAt(vIdx),
        s"withGlobalCumSum: null in value column '$valueCol'")
      r.getLong(vIdx)
    })._1
  }

  /** Per-GROUP form of [[withGlobalCumSum]]: the inclusive running sum
    * of `valueCol` in `sortCols` order restarting at each distinct
    * value of `groupCols` — `SUM(v) OVER (PARTITION BY group ORDER BY
    * ... ROWS UNBOUNDED PRECEDING)` without the per-group reducer wall,
    * via the global prefix over (groupCols, sortCols) and the same
    * per-group rebase as [[withGroupedRank]]. Not persisted: its
    * callers consume it once. Groups must be broadcast-few.
    */
  def withGroupedCumSum(df: DataFrame, groupCols: Seq[String],
      sortCols: Seq[Column], valueCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    perGroup(withGlobalCumSum(df, groupCols.map(col) ++ sortCols,
      valueCol, outCol), groupCols, outCol, col(valueCol))
  }
}
