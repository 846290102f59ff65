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
    internalFrame(df.sparkSession, df.queryExecution.toRdd, df.schema)

  /** Wrap an internal-row RDD as a DataFrame (the private
    * `internalCreateDataFrame`, exposed for operators that transform
    * the internal stream directly — GlobalOrder's prefix pass). */
  def internalFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

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
