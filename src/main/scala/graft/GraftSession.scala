package graft

import org.apache.spark.sql.SparkSession

/** Session factory carrying the engine's scale configuration profile
  * (SURVEY F4). One place owns the knobs; local test sessions and a real
  * cluster submit differ only in `master` / partition count.
  */
object GraftSession {

  /** The 100 TB profile, applied to any builder:
    *  - AQE on, with coalescing (small shuffle partitions merge at
    *    runtime) and skew-join splitting (a straggler partition is
    *    re-split without a manual salt).
    *  - Broadcast threshold generous (dims through `customer` at test
    *    SF; on a real cluster executors have the memory for 64 MB dims).
    *  - Partition sizing: 128 MB scan splits — the parquet sweet spot.
    */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = {
    // Dev/experiment escape hatch: SPARK_GRAFT_CONF="k=v;k=v" lays extra
    // confs over the profile (A/B runs without a rebuild). Unset in
    // driver runs — the committed profile below is what ships.
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.contains('='))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    // a non-committed conf profile must be VISIBLE in any recorded
    // evidence (ADVICE r21): echo the overlay so a lingering env var
    // cannot silently shift bench/verify numbers
    if (extra.nonEmpty) System.err.println(
      s"[graft] SPARK_GRAFT_CONF overrides active: " +
        extra.map { case (k, v) => s"$k=$v" }.mkString(";"))
    val base = b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Big shuffles must not be capped at the steady-state partition
      // count: with a fixed 32, the sf10 probe put ~2 GB in each
      // partition of d8's candidate-verify exchange — a spill wall AQE
      // CANNOT fix, because coalescing only merges small partitions
      // and skew-split only divides outliers; uniformly-huge shuffle
      // partitions have no adaptive remedy except starting wider.
      // Shuffles START at this width and AQE coalesces small ones
      // back down. It is data-scale config by nature: on a real
      // cluster the 100 TB profile sets it in the thousands; locally
      // it defaults to the steady-state count because the extra tasks'
      // fixed overhead measures +1-1.6 s per query on the sf0.1 bench
      // corpus (and the RDD-side paths - zipWithIndex, CC rounds -
      // never coalesce). The sf1/sf10 scale runs set it via env.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTS",
          shufflePartitions.toString))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // TypedImperativeAggregate partials (TopKAggregate, MisraGries)
      // run in ObjectHashAggregateExec, whose hash map falls back to
      // SORT-BASED aggregation after this many keys — the stock 128
      // turns any corpus-keyed heap agg (s9's per-vector top-k over
      // the n^1.5 candidate stream) into a full sort+spill of its
      // input per task, the exact OOM the r14 sf10 probe caught.
      // 1M keys ≈ ≤ a few hundred MB per task at TopK's ~200 B/entry
      // buffers — in-memory partials for any per-key-bounded agg,
      // while a genuinely unbounded key space still falls back
      // instead of OOMing. SAFE ONLY WHILE every buffer is per-key
      // bounded: enforced by graft.functions.BoundedPerKeyBuffer +
      // AggregateBufferBoundSpec (build fails on an aggregate that
      // doesn't declare its bound).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foldLeft(base) { case (bb, (k, v)) => bb.config(k, v) }
  }

  /** Local session with the profile applied (Bench, Verify, Smoke). */
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]")
      .appName(appName), shufflePartitions = cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
