package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Connected components, component = min id, on one of two paths
  * chosen per call from the exact edge count.
  *
  * The gate: the edge plan runs once, into persisted rows (lineage
  * kept, so a lost block recomputes), and the job that counts them is
  * the job that computes them. The edge set is small when the driver's
  * working set for union-find ([[BytesPerEdge]] per edge) fits within
  * one broadcast table, `spark.sql.autoBroadcastJoinThreshold`: about
  * 1M edges at graft's 64 MB. A threshold of -1 always runs the
  * loop, and so do ids that are not `LongType`.
  *
  * Small edge sets: the counting job also hands back each partition's
  * edges as one primitive long array, if the partition is within its
  * share of the cap (a skewed partition is collected by one more job),
  * and the driver runs union-find with union-to-min over the sorted
  * distinct endpoints (McSherry et al., "Scalability! But at what
  * COST?", HotOS 2015: one thread beats a distributed loop on graphs
  * this small). The labels come back as a local relation, and the edge
  * rows are released before `run` returns.
  *
  * Large edge sets: distributed min-label propagation
  * with pointer jumping (label compression), the standard alternating
  * scheme of large-star/small-star (Kiveris et al., "Connected
  * components in MapReduce and beyond", SoCC 2014): each round first
  * pulls the min label across edges, then compresses `label(x) ←
  * label(label(x))`, so convergence is O(log diameter) rounds rather
  * than O(diameter) — a million-long chain converges in ~20 rounds.
  *
  * Scale design: either path runs over EDGE-INCIDENT nodes only.
  * Singleton nodes (no edges) can never change label, so they bypass
  * the loop entirely and rejoin with `component = id` in one final
  * join. For dedup workloads the pair graph is orders of magnitude
  * smaller than the corpus, so at 100 TB this turns per-round shuffles
  * over every document into per-round shuffles over just the near-dup
  * graph — the full corpus is touched exactly twice (edge extraction,
  * final join).
  *
  * Each round is one materializing job: pull-min groupBy + pointer-jump
  * join, checkpointed (flat lineage), with the convergence flag carried
  * as a `chg` column — the count of changed rows runs on the rows the
  * checkpoint materializes, not in an extra join+count job.
  *
  * Fault tolerance: each round's result must be checkpointed (flat
  * lineage). `localCheckpoint()` — the default — stores blocks on
  * executors: fastest locally, but on a real cluster losing one
  * executor mid-iteration loses blocks that can NOT be recomputed
  * (lineage was truncated) and kills the job. For cluster runs pass
  * `checkpointDir` (HDFS/S3): rounds then use reliable
  * `df.checkpoint()`, which survives executor loss at the cost of one
  * distributed write per round — the right trade for a 20-round CC
  * over a 100 TB-derived edge set.
  *
  * An edge with a null endpoint joins nothing on either path. An edge
  * endpoint absent from `nodes` still connects its neighbours (and can
  * be their component's min id), but gets no output row.
  *
  * @param nodes one column `id`
  * @param edges columns `src`, `dst` (undirected; both orders implied)
  * @param maxIter round budget of the distributed loop
  * @param checkpointDir reliable checkpoint location (fault-tolerant
  *        storage) for the distributed loop; None ⇒ executor-local
  *        checkpoints (local default)
  * @return (id, component) for every id in `nodes`, where component =
  *         min id in the connected component
  */
object ConnectedComponents {

  /** Driver bytes per edge on the local path: the collected `(src, dst)`
    * longs (16), the sorted distinct endpoints, at most two per edge
    * (16), their union-find parents (8), and the label rows, at most one
    * per edge since each is a union that took (24, the size the planner
    * gives a local relation's `(id, component)` row).
    */
  private[operators] val BytesPerEdge = 64L

  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = nodes.sparkSession
    val pairs = edges.select(col("src"), col("dst"))
    val threshold = GraftBridge.autoBroadcastThreshold(nodes)
    val cap =
      if (threshold < 0 || !pairs.schema.forall(_.dataType == LongType)) -1L
      else threshold / BytesPerEdge
    // the edge plan runs once: one job computes, persists and counts the
    // rows either path reads; a partition within its share of the cap
    // packs its edges in the same job, so a small edge set is usually
    // collected by it too
    val edgeRows = pairs.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val share = if (cap < 0) -1L
      else cap / math.max(1, edgeRows.getNumPartitions)
    val counted = edgeRows
      .mapPartitions(it => Iterator.single(pack(it, share))).collect()
    val labels =
      if (counted.iterator.map(_._1).sum <= cap)
        try {
          val over = counted.indices.filter(counted(_)._2 == null)
          val rest = if (over.isEmpty) Nil
            else spark.sparkContext.runJob(edgeRows,
              (it: Iterator[InternalRow]) => pack(it, Long.MaxValue)._2,
              over).toSeq
          unionFind(spark, counted.toSeq.flatMap(c => Option(c._2)) ++ rest)
        } finally edgeRows.unpersist(blocking = false)
      else propagate(GraftBridge.internalFrame(spark, edgeRows, pairs.schema),
        () => edgeRows.unpersist(blocking = false), maxIter, checkpointDir)
    // singletons (and any node absent from the edge set) label themselves
    nodes.join(labels, Seq("id"), "left")
      .select(nodes("id"),
        coalesce(col("component"), nodes("id")).as("component"))
  }

  /** A partition's row count and, while it stays within `limit`, its
    * edges with no null endpoint as `src, dst` pairs in one primitive
    * array (`null` once the count passes `limit`).
    */
  private def pack(it: Iterator[InternalRow],
      limit: Long): (Long, Array[Long]) = {
    val b = new scala.collection.mutable.ArrayBuilder.ofLong
    var n = 0L
    it.foreach { r =>
      n += 1
      if (n <= limit && !r.isNullAt(0) && !r.isNullAt(1)) {
        b += r.getLong(0)
        b += r.getLong(1)
      }
    }
    (n, if (n <= limit) b.result() else null)
  }

  private val labelSchema = new StructType()
    .add("id", LongType, nullable = false)
    .add("component", LongType, nullable = false)

  /** Union-find over the collected edges. Endpoints are sorted and
    * deduplicated into `ids`, so an index order is the id order: with
    * union-to-min every root is its component's min id. Only ids whose
    * component is not themselves get a row; the caller's join labels
    * the rest.
    */
  private def unionFind(spark: SparkSession,
      parts: Seq[Array[Long]]): DataFrame = {
    val ids = new Array[Long](parts.iterator.map(_.length).sum)
    var k = 0
    parts.foreach { p =>
      System.arraycopy(p, 0, ids, k, p.length)
      k += p.length
    }
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices)
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    val parent = Array.range(0, n)
    // path halving keeps parent(x) <= x
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    parts.foreach { p =>
      var j = 0
      while (j < p.length) {
        val a = find(index(p(j)))
        val b = find(index(p(j + 1)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        j += 2
      }
    }
    val rows = (0 until n).iterator.flatMap { i =>
      val r = find(i)
      if (r == i) None else Some(Row(ids(i), ids(r)))
    }.toVector
    // a local relation: the planner sees its exact size, so the join
    // onto `nodes` broadcasts it, and reading it launches no job
    spark.createDataFrame(rows.asJava, labelSchema)
  }

  /** The distributed loop over the persisted edge rows `pairs`;
    * `releaseEdges` frees them once round 0 has materialized its own
    * symmetric copy. Returns (id, component) for edge nodes only.
    */
  private def propagate(pairs: DataFrame, releaseEdges: () => Unit,
      maxIter: Int, checkpointDir: Option[String]): DataFrame = {
    val spark = pairs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    val reliable = checkpointDir.isDefined
    // Round materialization (r21): checkpoints are LAZY and the
    // convergence count is the materializing action — one job per round
    // answers both "materialize this round" and "did anything change",
    // where the r20 shape paid TWO jobs per round (an eager
    // localCheckpoint plus an isEmpty scan). Block format is unchanged
    // (local/reliable checkpoint blocks, not the columnar SQL cache —
    // an A/B of a persist()-based round was 1.3-2× SLOWER at sf0.1:
    // per-round InMemoryRelation build + columnar decode on the three
    // label scans each round costs more than it saves). The rebase to
    // fresh attribute ids (so the next round's union/join of this frame
    // with its own derivatives can't trip Catalyst's duplicate-attribute
    // constraint rewriting) now rides the internal-row path
    // ([[org.apache.spark.sql.GraftBridge.rebase]]) instead of
    // `createDataFrame(df.rdd, schema)`, which deserialized every label
    // row to an external Row and re-encoded it each round.
    // Returns (rebased labels, change count, release handle).
    def roundSave(df: DataFrame): (DataFrame, Long, () => Unit) = {
      val ck = if (reliable) df.checkpoint(eager = false)
        else df.localCheckpoint(eager = false)
      val rdd = org.apache.spark.sql.GraftBridge.materializedRdd(ck)
        .getOrElse(throw new IllegalStateException(
          "checkpointed round is not LogicalRDD-backed"))
        .asInstanceOf[org.apache.spark.rdd.RDD[
          org.apache.spark.sql.catalyst.InternalRow]]
      // the change tally runs at the RDD level, directly on the rows
      // the checkpoint action is materializing — no SQL aggregate, no
      // exchange, no second scan. chg is ordinal 2 of (id, component,
      // chg); a NULL chg is impossible by the one-labels-row-per-id
      // invariant, but is counted as unchanged exactly as the r20
      // filter(col("chg")) did.
      val n = rdd.mapPartitions { it =>
        var c = 0L
        it.foreach(r => if (!r.isNullAt(2) && r.getBoolean(2)) c += 1)
        Iterator.single(c)
      }.collect().sum
      (org.apache.spark.sql.GraftBridge.rebase(ck), n,
        () => rdd.unpersist(blocking = false))
    }
    // sym is consumed every round, so it must be materialized — but
    // LAZILY: round 0's job materializes it, saving a separate job.
    //
    // PRE-PARTITIONING sym by src before the checkpoint (so each
    // round's join could read it in place, guide §2.4) was measured
    // and REJECTED (r22, interleaved `Bench ab`, min-of-reps): d15
    // 11.75 → 12.06 s and d6 4.55 → 4.29 at sf0.1 (noise-level), d15
    // 18.32 vs 16.79 s and d6 4.54 vs 4.15 at sf1 — consistently
    // SLOWER pinned. Locking the checkpoint at a fixed partition
    // count forfeits AQE's per-round coalescing of the sym exchange
    // (tiny rounds pay 32 tasks instead of a few) and its skew
    // splitting at scale; the saved exchange does not pay for either.
    val symPlan = pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
    val sym =
      if (reliable) symPlan.checkpoint(eager = false)
      else symPlan.localCheckpoint(eager = false)

    // Fused round 0 over edge nodes only: component = min(id, neighbors)
    // — exactly the first pull from identity labels, for one groupBy.
    // Also lazy; its materializing count() is the job that computes sym.
    val labels0 = (if (reliable)
      sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("id"),
          least(col("src"), col("mn")).as("component"))
        .checkpoint(eager = false)
    else
      sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("id"),
          least(col("src"), col("mn")).as("component"))
        .localCheckpoint(eager = false))
    // one RDD-level job materializes round 0 AND sym (the count runs on
    // the checkpointing RDD itself — no SQL aggregate plan on top)
    val labels0Rdd = org.apache.spark.sql.GraftBridge
      .materializedRdd(labels0)
      .getOrElse(throw new IllegalStateException(
        "checkpointed round-0 labels are not LogicalRDD-backed"))
    labels0Rdd.count()
    releaseEdges()
    var labels = org.apache.spark.sql.GraftBridge.rebase(labels0)
    // the release handle for the CURRENT round — freed once the next
    // round materializes. Without this every round's label table stays
    // persisted until the query ends: harmless at test SF, but a
    // 20-round CC over a 100 TB-derived edge set holds 20 copies of the
    // label table in executor storage. Bounded to O(1) rounds here.
    var releaseRound: () => Unit =
      () => labels0Rdd.unpersist(blocking = false)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // pull the min label across edges; carry each node's previous
      // label through the aggregation (each id has exactly ONE labels
      // row, so min(old) recovers it) for in-flight change detection
      val viaEdges = sym
        .join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("component"),
          lit(null).cast(LongType).as("old"))
      val pulled = labels
        .select(col("id"), col("component"), col("component").as("old"))
        .unionByName(viaEdges)
        .groupBy("id")
        .agg(min("component").as("component"), min("old").as("old"))
      // pointer jump: label(x) ← min(label(x), label(label(x))).
      // Every component value is the id of some edge node, so the inner
      // self-join covers all rows.
      //
      // A DOUBLE jump (jumping the jumped table through itself,
      // label ← L⁴) was measured and REJECTED (r22): it does halve
      // rounds when label trees are deep (a 200-node chain with
      // position-correlated ids: 8 → 5 rounds), but on the real edge
      // sets label values are uncorrelated with graph structure, so
      // label trees stay shallow and convergence is PULL-bound — the
      // d15 edge set ran 10 rounds under both schemes (per-round
      // timing, same window), leaving the second self-join per round a pure
      // cost. Deeper min-propagation (two-hop pull) was rejected on
      // arithmetic: squared-edge joins grow per-round bytes ~2·KG×
      // to halve rounds.
      val (jumped, nChg, release) = roundSave(pulled.as("x")
        .join(pulled.as("p"), col("x.component") === col("p.id"))
        .select(col("x.id").as("id"),
          least(col("x.component"), col("p.component")).as("component"),
          (least(col("x.component"), col("p.component")) =!= col("x.old"))
            .as("chg")))
      converged = nChg == 0L
      // this round is materialized and the convergence check has run —
      // the previous round's blocks are now dead
      releaseRound()
      releaseRound = release
      labels = jumped.select("id", "component")
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds")
    // the per-round edge table is dead once the loop exits (the final
    // join reads labels only)
    org.apache.spark.sql.GraftBridge.materializedRdd(sym)
      .foreach(_.unpersist(blocking = false))
    labels
  }
}
