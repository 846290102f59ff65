package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TopKAggregate
import graft.functions.VectorFunctions._
import graft.sources.{Parquet, Tables}
import graft.state.SegmentLedger

/** Similarity-search operators over `embeddings` (SURVEY §2.3 S1–S3).
  *
  * Pattern shared by all three: the QUERY side is tiny and broadcast; the
  * DATA side streams. At 100 TB the data side is the scan, so cost is
  * (#candidates × dim) per query — S1 scores everything (exact baseline),
  * S2/S3 bound candidates via LSH buckets / IVF cells. Cosine is a pure
  * codegen'd HOF fold in double precision with a fixed left-to-right
  * order, which is why S1 can be DuckDB-oracle-exact bit for bit.
  *
  * Top-k: all three rank via the custom bounded-heap aggregate
  * ([[graft.functions.TopKByScore]]) whose map-side partial aggregation
  * ships ≤ K rows per partition per query — the skew-safe shape for
  * search at 100 TB. The oracles mirror the identical rank rule with
  * ROW_NUMBER, so results stay bit-exact.
  */
object SimilarityOps extends QueryGroup {

  private val K = 10
  private val NQ = 8 // vec_id < NQ are the query vectors

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))

  /** Aggregate top-k via [[TopKAggregate]] — rank semantics
    * `(cosine desc, vec_id asc)`, identical to the ROW_NUMBER window
    * idiom the oracles mirror, but the shuffle carries ≤ K rows per
    * partition per query instead of every scored candidate. Used by all
    * of s1/s2/s3: at 100 TB a per-qid window would funnel a query's
    * whole candidate list through one reducer; the heap partial-aggs.
    */
  private[graft] def topKAgg(scored: DataFrame, k: Int = K,
      ordered: Boolean = true): DataFrame = {
    val out = scored.groupBy("qid")
      .agg(TopKAggregate.topKByScore(col("cosine"), col("vec_id"), k)
        .as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cosine"))
    if (ordered) out.orderBy("qid", "rank") else out
  }

  // ---------------------------------------------------------------- S1
  // Exact brute-force: broadcast the 8 query vectors, score every data
  // vector (one scan pass), bounded-heap top-k. The DuckDB oracle
  // reproduces the identical double fold and the same (cosine desc,
  // vec_id asc) rank rule via ROW_NUMBER, so ranks + cosines match
  // exactly while the Spark shuffle stays ≤ K rows per partition.
  private val s1 = QueryDef(
    "s1_ann_bruteforce",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val scored = e.join(broadcast(q), col("qid") =!= col("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQ
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(e.embedding[i]::DOUBLE) for i in range(1, len(e.embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(e.embedding[i]::DOUBLE)*(e.embedding[i]::DOUBLE) for i in range(1, len(e.embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM q, embeddings e WHERE qid <> vec_id
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- S2
  // Random-hyperplane LSH: occupancy-keyed signature width × recall-
  // preserving table count (both size-derived, see below). A data
  // vector is a candidate iff it lands in the query's bucket in ANY
  // table — an equi-join on (table, bucket), candidates ≈ L·n/2^bits
  // per query. Exact cosine re-ranks the candidates.
  //
  // The width is NOT fixed: a fixed b scans a constant L/2^b fraction
  // of the corpus per query at ANY scale (the same "quadratic in
  // disguise" d8 fixed in r5). [[LshTuning.bitsFor]] grows b with
  // log(n) to pin expected bucket occupancy ≈ 125, making candidates
  // per query O(L·occupancy) — constant work per query as the corpus
  // grows, recall traded per the hyperplane collision curve (at a
  // production c ≥ 0.9 threshold, b=8/L=8 still holds 93% recall). At
  // every driver-checked SF (n ≤ 2000) the floor keeps b at the
  // calibrated 4, so oracle outputs and measured recalls are
  // unchanged there; AnnRecallSpec asserts the occupancy bound from
  // the tapped candidate set.
  //
  // Two-stage oracle: the bucketing (Spark hyperplane hashes — no DuckDB
  // twin) decides WHICH pairs are candidates; those are materialized via
  // [[graft.sources.VerifyTap]] and DuckDB re-runs everything above the
  // tap — the s1-style left-to-right cosine fold and the ROW_NUMBER
  // top-k — so the re-rank + TopKByScore heap logic is hash-verified.
  private val lshTablesFloor = 4
  private val lshBitsFloor = 4
  private[graft] val lshTargetBucket = 125
  // recall-preserving reference similarity: production ANN cares about
  // c ≥ 0.9 neighbors; pStar = 1 − acos(0.9)/π is the per-bit collision
  // probability there. As the occupancy-keyed width grows, table count
  // grows by (1/pStar)^Δb so recall at c ≥ 0.9 stays ~constant while
  // candidates stay O(L·occupancy) — both knobs turned together, the
  // way LSH is actually scaled.
  private val lshPStar = 1.0 - math.acos(0.9) / math.Pi
  private[graft] def s2Bits(n: Long): Int =
    LshTuning.bitsFor(n, lshTargetBucket, lshBitsFloor)
  private[graft] def s2Tables(n: Long): Int =
    LshTuning.tablesFor(s2Bits(n), lshBitsFloor, lshTablesFloor, lshPStar)

  /** The s1-oracle cosine/top-k SQL over a materialized candidate tap. */
  private def rerankOracle(tap: String): String = rerankOracleK(tap, K)

  private def rerankOracleK(tap: String, k: Int): String =
    s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/$tap/*.parquet')
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $k ORDER BY qid, rank""".stripMargin
  /** The shared s2/s7 LSH candidate stage: occupancy-keyed hyperplane
    * buckets on both sides, query side broadcast, candidates
    * materialized under `tap` so each consumer gets its own
    * hash-verifiable two-stage oracle.
    */
  private def lshQueryCandidates(s: SparkSession, dir: String,
      tap: String): DataFrame =
    lshCandidatesOver(s, dir, tap, col("vec_id") < NQ, lit(true))

  /** The generalized LSH candidate stage: query side = rows matching
    * `queryPred` (must stay request/suite-sized — it broadcasts), data
    * side = rows matching `dataPred`. s2/s7 use (vec_id < NQ, all);
    * t25's decontamination probes the eval-suite holdout against the
    * non-holdout corpus.
    */
  private[graft] def lshCandidatesOver(s: SparkSession, dir: String,
      tap: String, queryPred: Column, dataPred: Column): DataFrame = {
    val e = emb(s, dir)
    val n = e.count()
    val lshBits = s2Bits(n)
    val lshTables = s2Tables(n)
    def buckets(df: DataFrame, idCol: String): DataFrame =
      // BARRIER before the explode (the d8 discipline): collapsed
      // into the Generate's stage, the L signature loops form one
      // generated method past the JIT's compile threshold and the
      // whole stage drops to the bytecode interpreter — the sf10
      // probe measured ~100× on the d8 twin of this shape
      graft.operators.ScratchCache.scratch(
        df.select(Seq(col("vec_id").as(idCol), col("embedding")) ++
          (0 until lshTables).map(t =>
            hyperplaneSignature(col("embedding"), lshBits, 0x5eed + t)
              .as(s"h$t")): _*))
        .select(col(idCol), col("embedding"),
          posexplode(array((0 until lshTables).map(t => col(s"h$t")): _*)))
        .toDF(idCol, "embedding", "table", "bucket")
    val dataB = buckets(e.filter(dataPred), "vec_id")
    val queryB = buckets(e.filter(queryPred), "qid")
      .withColumnRenamed("embedding", "qe")
    graft.sources.VerifyTap(
      dataB.join(broadcast(queryB), Seq("table", "bucket"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id"), col("qe"), col("embedding"))
        .dropDuplicates("qid", "vec_id"),
      tap)
  }

  private val s2 = QueryDef(
    "s2_ann_lsh",
    (s, dir) => {
      val scored = lshQueryCandidates(s, dir, "s2_cand")
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(rerankOracle("s2_cand")))

  // ---------------------------------------------------------------- S7
  // RANGE search — the other retrieval mode next to top-k: ALL
  // neighbors with cosine ≥ r per query, however many there are (dedup
  // thresholds, "everything semantically equivalent to this span",
  // policy matching — places where a fixed k silently truncates). Same
  // occupancy-keyed LSH candidate stage as s2 (bounded candidates per
  // query at any corpus size); the threshold filter replaces the
  // bounded-heap rank, so the output needs NO per-query aggregation at
  // all — a pure map-side filter over the candidate stream, even more
  // shuffle-free than top-k. Oracle: DuckDB re-scores the tapped
  // candidates with the s1-exact fold and applies the same ≥ filter.
  private val rangeR = 0.3
  private val s7 = QueryDef(
    "s7_ann_range_search",
    (s, dir) =>
      lshQueryCandidates(s, dir, "s7_cand")
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .filter(col("cosine") >= rangeR)
        .select(col("qid"), col("vec_id").as("neighbor_id"), col("cosine"))
        .orderBy("qid", "neighbor_id"),
    Some(s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s7_cand/*.parquet')
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |)
       |SELECT qid, vec_id AS neighbor_id, cosine
       |FROM scored WHERE cosine >= $rangeR
       |ORDER BY qid, neighbor_id""".stripMargin))

  // ---------------------------------------------------------------- S3
  // IVF with a SIZE-KEYED index: cells ≈ √n (floored at the calibrated
  // 16), probes ≈ 1.5·√cells — so the scanned corpus fraction
  // nprobe/cells ≈ 1.5·n^(-1/4) SHRINKS as the corpus grows
  // (2 000 → 45/11 = 24%, 20 000 → 142/18 = 13%, and onward as
  // n^(-1/4)), where the old fixed 16/4 scanned 25% at ANY n — a
  // linear-scan in disguise. Per-query work is O(n^(3/4)·dim +
  // cells·dim); the centroid table stays a broadcast-size model at any
  // scale ([[LshTuning.ivfCellsFor]] / [[LshTuning.nprobeFor]]).
  //
  // The coarse quantizer is TRAINED, not guessed: seeds are a
  // deterministic pseudo-random draw (the `cells` vectors minimizing a
  // salted hash of vec_id — uniform over the corpus, reproducible run
  // to run), refined with 3 distributed Lloyd iterations over a 25%
  // hash-sample of the corpus (train-on-sample is the 100 TB shape:
  // quantizer training never scans the full corpus, which is touched
  // once for the final assignment). Each iteration's centroid table is
  // checkpointed so iteration i doesn't replan iterations < i. Oracle:
  // same candidate-tap re-rank scheme as s2 (DuckDB verifies cosine +
  // top-k above the tap); recall@10 vs s1 is measured and floored in
  // AnnRecallSpec at sf0.001, sf0.1 and a ScaleUp-synthesized 10×,
  // alongside the shrinking-fraction assertion.
  private[queries] val ivfCellsFloor = 16
  private[graft] val nprobeFloor = 4
  private val lloydIters = 3

  // Single-centroid ASSIGNMENT is a partial-agg argmax, not a
  // window: the native [[graft.functions.ArgMaxId]] aggregate
  // reproduces the (sim desc, cid asc) rank rule exactly, and
  // map-side combine ships ≤ 1 row per vector per partition — where
  // `row_number() OVER (PARTITION BY vec_id)` shuffled ALL n×cells
  // scored rows into per-vector reducers, in the final assignment AND
  // in every Lloyd iteration. The embedding rides as a GROUP KEY
  // (vec_id is unique, so the groups are identical) and the aggregate
  // buffer is fixed-width (double, long) — the whole agg plans as
  // HashAggregateExec, not the SortAggregate pair the earlier
  // `max_by(cid, struct(sim, -cid))` + `first(embedding)` formulation
  // forced: a struct/array BUFFER disqualifies the hash map, and the
  // partial SortAggregate then sorts (and at sf10, spills) the entire
  // n×cells scored cross join before reducing it (r17 verdict's c1
  // SortAggregate watch; plan-gated in PlanSpec, result equality in
  // ArgMaxIdSpec). Shared by s3 (in-query index), s8/s10
  // (persisted-index ingest) and c1/c2 (via [[assignCids]]).
  private[graft] def assignNearest(df: DataFrame,
      cents: DataFrame): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("cv")))
    scored.groupBy("vec_id", "embedding")
      .agg(graft.functions.ArgMaxId
        .argMaxIdByScore(col("sim"), col("cid")).as("cid"))
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** [[assignNearest]] without the embedding riding: (vec_id, cid)
    * only — the shuffle carries 24-byte rows instead of the vector
    * bytes. For consumers that only need the assignment (c1/c2's
    * cluster mixtures); index builders keep [[assignNearest]].
    */
  private[graft] def assignCids(df: DataFrame,
      cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(graft.functions.ArgMaxId
        .argMaxIdByScore(col("sim"), col("cid")).as("cid"))

  // Multi-centroid PROBE SELECTION runs only over the NQ query
  // rows (8 here; always request-sized, never corpus-sized), so a
  // per-vector window is the simple right tool.
  private def probeNearest(df: DataFrame, cents: DataFrame,
      keep: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("cv")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cid"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= keep)
      .drop("r", "cv", "sim")
  }

  /** Train the coarse quantizer over `e` (n rows): deterministic
    * hash-drawn seeds refined by 3 distributed Lloyd iterations over a
    * 25% hash-sample — training never scans the full corpus more than
    * the sample implies, and each iteration's centroid table is
    * checkpointed so iteration i doesn't replan iterations < i.
    * The seed draw: the `cells` vectors minimizing a salted hash of
    * vec_id. The bottom-cells-by-hk set is computed from a
    * HASH-THRESHOLD pre-filter (hk is ~uniform over the long range, so
    * a threshold at 8×cells/n of the range keeps ~8×cells candidate
    * rows — Chernoff makes under-sampling negligible, and a count
    * guard falls back to the unfiltered draw if it ever happens) so
    * the terminal orderBy(hk).limit(cells) gathers a seed-sized set,
    * never √n corpus rows, through TakeOrdered. Both paths select the
    * IDENTICAL seed set.
    */
  private[graft] def trainCentroids(e: DataFrame, ivfCells: Int,
      n: Long): DataFrame = {
    // Lloyd step: per-cell per-dimension mean, rebuilt into arrays
    def lloyd(assign: DataFrame): DataFrame = assign
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy("cid", "pos").agg(avg(col("col")).as("m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"),
        transform(col("pm"), x => x("m").cast("float")).as("cv"))
    val hashed = e.withColumn("hk", xxhash64(lit(0x1f), col("vec_id")))
    val frac = 8.0 * ivfCells / n.toDouble
    val seedPool =
      if (frac >= 0.4) hashed // tiny corpus: no filter needed
      else {
        val thr = Long.MinValue + (frac * math.pow(2.0, 64)).toLong
        val filtered = hashed.filter(col("hk") < thr)
        if (filtered.count() >= ivfCells) filtered else hashed
      }
    val seeds = seedPool.orderBy(col("hk")).limit(ivfCells)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val pool = hashed.filter(pmod(col("hk"), lit(4)) === 0)
      .select("vec_id", "embedding")
    var cents = seeds.localCheckpoint()
    (0 until lloydIters).foreach { _ =>
      cents = lloyd(assignNearest(pool, cents)).localCheckpoint()
    }
    cents
  }

  private val s3 = QueryDef(
    "s3_ann_ivf",
    (s, dir) => {
      val e = emb(s, dir)
      val n = e.count()
      val ivfCells = LshTuning.ivfCellsFor(n, ivfCellsFloor)
      val nprobe = LshTuning.nprobeFor(ivfCells, nprobeFloor)
      val cents = trainCentroids(e, ivfCells, n)
      val assign = assignNearest(e, cents)

      val q = e.filter(col("vec_id") < NQ)
      val probes = probeNearest(q, cents, nprobe)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("cid"))
      val cand = graft.sources.VerifyTap(
        assign.join(broadcast(probes), Seq("cid"))
          .filter(col("qid") =!= col("vec_id"))
          .select(col("qid"), col("vec_id"), col("qe"), col("embedding")),
        "s3_cand")
      val scored = cand
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(rerankOracle("s3_cand")))

  // ---------------------------------------------------------------- S4
  // Int8 embedding quantization: per-vector symmetric scale
  // (max|x|/127), q = floor(x/scale + 0.5) — the 4× storage/IO
  // reduction an ANN index wants at 100 TB (int8 vectors re-ranked by
  // the few exact-float candidates). Pure map work: zero shuffles
  // before the verification orderBy; runs at scan speed on any corpus.
  // Output is long-form (vec_id, pos, q, scale) so the oracle compares
  // every quantized element; both engines fold the identical IEEE
  // double ops (float→double widen, /, +0.5, floor), so values match
  // bit for bit — same oracle model as s1/d5.
  private val s4 = QueryDef(
    "s4_quantize_int8",
    (s, dir) => {
      val e = emb(s, dir)
      val amax = array_max(transform(col("embedding"),
        x => abs(x.cast("double"))))
      e.select(col("vec_id"), col("embedding"),
        (amax / 127.0).as("scale"))
        .select(col("vec_id"), col("scale"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
          when(col("scale") === 0d, lit(0))
            .otherwise(floor(col("col").cast("double") / col("scale") + 0.5)
              .cast("int")).as("q"),
          col("scale"))
        .orderBy("vec_id", "pos")
    },
    Some("""WITH s AS (
       |  SELECT vec_id, embedding,
       |    list_max([abs(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]) / 127.0 AS scale
       |  FROM embeddings
       |)
       |SELECT vec_id, CAST(i AS BIGINT) AS pos,
       |  CASE WHEN scale = 0 THEN 0
       |       ELSE CAST(floor(embedding[i]::DOUBLE / scale + 0.5) AS INT) END AS q,
       |  scale
       |FROM s, LATERAL (SELECT unnest(range(1, len(embedding)+1)) AS i) t
       |ORDER BY vec_id, pos""".stripMargin))

  // ---------------------------------------------------------------- S5
  // Product-quantization ANN (see [[graft.operators.ProductQuantizer]]):
  // the memory-bound regime's answer — vectors compress to M=8 6-bit
  // codes (+1 stored norm), queries scan CODES through a per-query
  // M·K lookup table instead of raw floats, ~16× less scan traffic at
  // any corpus size (measured recall@10 0.425 vs 0.225 at K=16 —
  // AnnRecallSpec). Codebook trains distributed (decimal-mean Lloyd on
  // a hash sample, deterministic) and both the codebook and the coded
  // corpus ride VerifyTaps: DuckDB rebuilds the ADC lookup table from
  // the tapped codebook + raw query vectors and re-folds every score in
  // the same fixed order, so approximate cosines — and the top-k — are
  // hash-exact cross-engine (the s1 fold discipline over the tap).
  // Recall vs exact s1 is measured and floored in AnnRecallSpec.
  private val pqM = 8
  private val pqK = 64
  private val pqSubDim = 8 // oracle SQL hardcodes M·K·subDim literals
  private val pqIters = 4

  // The trained codebook is a MODEL ARTIFACT: in a real pipeline it is
  // trained once and served to every encode/query job, not retrained
  // per query. Training is deterministic (decimal means, hash seeds),
  // so the driver memo keyed on (dir, mtime) — the CorpusStats
  // discipline — is semantics-free: s5, s6 and repeat constructions
  // share one training run per corpus version.
  private val pqCbCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), graft.operators.ProductQuantizer.Codebook]

  private def pqCodebookDf(s: SparkSession, dir: String): DataFrame = {
    val mtime = new java.io.File(s"$dir/embeddings.parquet").lastModified()
    val cb = pqCbCache.getOrElseUpdate((dir, mtime), {
      val e = emb(s, dir)
      graft.operators.ProductQuantizer.collectCodebook(
        graft.operators.ProductQuantizer.trainCodebook(
          e, pqM * pqSubDim, pqM, pqK, pqIters, e.count()))
    })
    graft.operators.ProductQuantizer.codebookDf(emb(s, dir), cb)
  }
  private val s5 = QueryDef(
    "s5_ann_pq",
    (s, dir) => {
      val e = emb(s, dir)
      val dim = pqM * pqSubDim
      val cb = graft.sources.VerifyTap(pqCodebookDf(s, dir), "s5_codebook")
      val codes = graft.sources.VerifyTap(
        graft.operators.ProductQuantizer.encode(e, cb, dim, pqM),
        "s5_codes", coalesce = false)
      val queries = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
          sqrt(aggregate(col("embedding"), lit(0d),
            (acc, x) => acc + x.cast("double") * x.cast("double")))
            .as("qnorm"))
      val scored = graft.operators.ProductQuantizer
        .adcScores(codes, cb, queries, dim, pqM, pqK)
        // s1 convention: self-matches excluded, so recalls compare
        // apples-to-apples across s1/s5/s6
        .filter(col("qid") =!= col("vec_id"))
        .withColumnRenamed("score", "cosine")
      topKAgg(scored)
    },
    Some(s"""WITH cb AS (
       |  SELECT sub, code, centroid
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s5_codebook/*.parquet')
       |), codes AS (
       |  SELECT vec_id, codes, vnorm
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s5_codes/*.parquet')
       |), q AS (
       |  SELECT vec_id AS qid, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) AS qnorm
       |  FROM embeddings WHERE vec_id < $NQ
       |), dots AS (
       |  SELECT q.qid, cb.sub, cb.code, q.qnorm,
       |    list_reduce(list_prepend(0.0,
       |      [(q.embedding[cb.sub*$pqSubDim + i]::DOUBLE) * cb.centroid[i] for i in range(1, ${pqSubDim + 1})]),
       |      (x,y) -> x+y) AS dot
       |  FROM q, cb
       |), dtq AS (
       |  SELECT qid, any_value(qnorm) AS qnorm, list(dot ORDER BY sub, code) AS dt
       |  FROM dots GROUP BY qid
       |), scored AS (
       |  SELECT d.qid, c.vec_id,
       |    list_reduce(list_prepend(0.0,
       |      [d.dt[(i-1)*$pqK + c.codes[i] + 1] for i in range(1, len(c.codes)+1)]),
       |      (x,y) -> x+y) / (c.vnorm * d.qnorm) AS cosine
       |  FROM codes c, dtq d WHERE c.vec_id <> d.qid
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // ---------------------------------------------------------------- S6
  // Two-stage retrieval — the production shape PQ is actually deployed
  // in: the CODES scan nominates rerankC candidates per query by ADC
  // score (cheap, 16× narrower scan), then ONLY those candidates fetch
  // their raw vectors for exact-cosine re-ranking to top-K. Per-query
  // exact work drops from O(n·dim) to O(rerankC·dim) while recall
  // recovers toward the candidate ceiling (recall@10 bounded by ADC
  // recall@rerankC — measured in AnnRecallSpec, well above raw s5).
  // Self-matches are excluded (the s1 convention), so recalls compare.
  // Oracle: the candidate set rides a VerifyTap carrying (qe,
  // embedding) and DuckDB re-runs the exact re-rank above it — the
  // identical two-stage oracle s2/s3 use (rerankOracle).
  private val rerankC = 50
  private val s6 = QueryDef(
    "s6_ann_pq_rerank",
    (s, dir) => {
      val e = emb(s, dir)
      val dim = pqM * pqSubDim
      val cb = pqCodebookDf(s, dir)
      val codes = graft.operators.ProductQuantizer.encode(e, cb, dim, pqM)
      val queries = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
          graft.functions.VectorFunctions.norm(col("embedding"))
            .as("qnorm"))
      val candIds = graft.operators.ProductQuantizer
        .adcScores(codes, cb, queries, dim, pqM, pqK)
        .filter(col("qid") =!= col("vec_id"))
        .groupBy("qid")
        .agg(TopKAggregate
          .topKByScore(col("score"), col("vec_id"), rerankC).as("top"))
        .select(col("qid"), explode(col("top")).as("t"))
        .select(col("qid"), col("t.id").as("vec_id"))
      val cand = graft.sources.VerifyTap(
        candIds
          .join(e, "vec_id")
          .join(broadcast(e.filter(col("vec_id") < NQ)
            .select(col("vec_id").as("qid"), col("embedding").as("qe"))),
            "qid")
          .select("qid", "vec_id", "qe", "embedding"),
        "s6_cand", coalesce = false)
      val scored = cand
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(rerankOracle("s6_cand")))

  // ---------------------------------------------------------------- S8
  // Incremental ANN ingest — the d9/d13 ledger discipline applied to
  // similarity search, the op a daily embedding pipeline actually
  // runs: today's vectors join a PERSISTED IVF index without
  // retraining the quantizer or touching the standing corpus, and the
  // daily queries probe the stored index. The ledger is a
  // [[graft.state.SegmentLedger]] (marker-committed segments, one
  // tombstone log, staged compaction into seg=0) holding:
  //
  //   path/centroids/     (cid, cv) — trained ONCE at bootstrap over
  //                       the then-standing corpus (s3's seed+Lloyd
  //                       machinery); retraining is a scheduled
  //                       offline job, the production trade
  //   path/assign/seg=k/  one dir per committed ingest batch,
  //                       partitionBy("cid"): (vec_id, embedding)
  //                       under cid=* partition dirs, so the daily
  //                       query reads ONLY the ≤ NQ·nprobe probed
  //                       cells (driver-collected, pushed as
  //                       PartitionFilters — plan-gated) — nprobe/
  //                       cells of the index's bytes, which is the
  //                       point of IVF
  //   path/ids/seg=k/     the slim id-only sidecar: (vec_id) alone,
  //                       so maintenance's novel-id anti-join reads
  //                       8-byte ids, never the embedding bytes that
  //                       dominate the index (~100× the IO at a
  //                       typical 256-dim float embedding), and never
  //                       pays the partitioned tree's per-cell
  //                       listing/footer tax
  //
  // Crash atomicity is the segment ledger's: a torn append is
  // invisible and deleted at the next writer entry (novelty is decided
  // against COMMITTED ids only, so a torn append cannot duplicate
  // rows). Bootstrap keys on "no committed assign segment", not on the
  // centroids dir — centroids are written first and a half-bootstrap
  // re-runs cleanly with overwrite.
  //
  // Novel vec_ids are assigned to the STORED centroids — O(batch ·
  // cells) work; the corpus is never re-assigned, never rescanned
  // (plan-gated). Assignment against fixed centroids is
  // deterministic, so incremental ≡ from-scratch assignment row for
  // row (spec-gated). A long append chain (one seg per day) pays a
  // per-seg listing tax like d9's pre-F16 chain; compactIvfLedger
  // below is its bin-pack. Same two-stage oracle as s2/s3: candidates
  // tap, DuckDB re-ranks.
  private[graft] def s8LedgerPath(dir: String): String =
    // _p4 = the one-relation segment-ledger layout (`seg=k` segments,
    // one commit chain for data and tombstones); older layouts are
    // stale state, never reinterpreted
    StatePath(dir, "s8_ivf", "_p4")

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)
  private def fsOf(s: SparkSession, p: String) =
    hPath(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Has the s8/s10 ledger at `path` a committed data segment? */
  private[graft] def ledgerBootstrapped(s: SparkSession,
      path: String): Boolean =
    SegmentLedger.segments(s, path, "assign").nonEmpty

  /** The index's assignment rows (vec_id, embedding, cid) over every
    * committed segment, each scan pruned to `cids` when given; cid is
    * pinned LONG after the prune (partition-value inference may type it
    * INT) so the isin stays a pure partition predicate.
    */
  private[graft] def s8Assign(s: SparkSession, path: String,
      cids: Option[Seq[Long]]): DataFrame =
    SegmentLedger.read(s, path, "assign", Seq(col("vec_id"),
      col("embedding"), col("cid").cast(LongType).as("cid")), cids)

  /** The slim maintenance view: every indexed vec_id. */
  private[graft] def s8Ids(s: SparkSession, path: String): DataFrame =
    SegmentLedger.read(s, path, "ids")

  /** Write batch `rows` (vec_id, cid, embedding) as the assign and ids
    * sub-tables of uncommitted segment `k`. The sidecar ids come from
    * the seg just written (a column-pruned read of 8-byte ids), not
    * from `rows` — consuming `rows` twice would re-execute a
    * corpus-sized assignment at bootstrap.
    */
  private def writeAssign(s: SparkSession, path: String, k: Int,
      rows: DataFrame): Unit = {
    SegmentLedger.write(rows, path, "assign", k, Some("cid"))
    SegmentLedger.write(SegmentLedger.readSegment(s, path, "assign", k)
      .select("vec_id"), path, "ids", k)
  }

  /** Bootstrap-or-append the IVF index ledger from `prior`. Bootstrap
    * trains the quantizer (cells keyed to the bootstrap corpus size)
    * and assigns everything as the first segment; append assigns only
    * NOVEL vec_ids to the stored centroids — maintenance is
    * O(batch·cells) compute against a slim id-only read, the corpus is
    * never re-assigned.
    */
  private[graft] def refreshIvfLedger(s: SparkSession, path: String,
      prior: DataFrame): Unit =
      SegmentLedger.withWriter(s, path, "refreshIvfLedger") {
    val centDir = s"$path/centroids"
    def append(rows: DataFrame): Unit = {
      val k = SegmentLedger.next(s, path)
      writeAssign(s, path, k, assignNearest(rows, Parquet.read(s, centDir))
        .select("vec_id", "cid", "embedding"))
      SegmentLedger.commit(s, path, k)
    }
    if (!ledgerBootstrapped(s, path)) {
      val n = prior.count()
      val cells = LshTuning.ivfCellsFor(n, ivfCellsFloor)
      trainCentroids(prior, cells, n)
        .write.mode("overwrite").parquet(centDir)
      append(prior)
    } else {
      // novel ids only, decided against the COMMITTED slim sidecar;
      // materialized (batch-sized) before the write so the write
      // never scans its own destination
      val novel = prior
        .join(s8Ids(s, path), Seq("vec_id"), "left_anti")
        .localCheckpoint()
      if (!novel.isEmpty) append(novel)
    }
  }

  /** F16's compaction for the s8 segment chain: merge every committed
    * segment into a single seg=0 of a staged ledger and swap it in
    * ([[graft.state.SegmentLedger.compact]]). Layout-preserving: the
    * compacted seg is written by the same [[writeAssign]], so the
    * pruned-read plan is bit-identical; content equality is
    * spec-gated. Committed tombstones are APPLIED here (physical
    * delete) and the staging carries no tombstone log — promoting
    * without applying them would resurrect every takedown (see S13).
    */
  private[graft] def compactIvfLedger(s: SparkSession,
      path: String): Unit =
    SegmentLedger.compact(s, path, "compactIvfLedger",
        SegmentLedger.segments(s, path, "assign").size > 1 ||
          SegmentLedger.segments(s, path, "tombs").nonEmpty) { staging =>
      val all = s8Assign(s, path, None).select("vec_id", "cid", "embedding")
        .join(broadcast(s8Tombs(s, path)), Seq("vec_id"), "left_anti")
      Parquet.read(s, s"$path/centroids")
        .write.mode("overwrite").parquet(s"$staging/centroids")
      writeAssign(s, staging, 0, all)
    }

  /** QUANTIZER RETRAIN MIGRATION (r19, the r18 verdict's #4): s8's
    * centroids are trained once at bootstrap and fixed forever — the
    * production trade that makes assignment deterministic and
    * incremental ≡ from-scratch provable — with retraining deferred to
    * "a scheduled offline job". This IS that job: when the corpus has
    * drifted from its bootstrap distribution (occupancy skew, recall
    * decay), train FRESH centroids on the standing corpus (cells
    * re-keyed to its CURRENT size — a ledger that grew 100× since
    * bootstrap gets √(100n) cells, not its stale √n) and re-assign
    * every committed row through a staged parallel build.
    *
    * Atomicity is compaction's ([[graft.state.SegmentLedger.compact]]):
    * the staging ledger (new centroids + one re-assigned seg=0 + ids +
    * marker) is fully written while the live dir stays untouched, then
    * the rename-aside swap flips readers to the new quantizer in one
    * metadata operation — a reader mid-migration reads the OLD
    * quantizer's committed state until the flip. Committed
    * tombstones are applied during the rewrite (the physical-removal
    * hazard is the same as compaction's) and the retrained ledger
    * starts tomb-free. Determinism: trainCentroids' hash-sampled
    * seeds make the retrained ledger row-identical to a from-scratch
    * bootstrap over the same corpus (spec-gated; its Lloyd means are
    * double `avg`s, so that identity also rests on both builds summing
    * in the same order), so downstream readers (s8/s12/s13 probes, the
    * c1l/c2l quantizer seam) migrate with no contract change — their
    * next read simply probes the new cells.
    */
  private[graft] def retrainIvfLedger(s: SparkSession,
      path: String): Unit =
    SegmentLedger.compact(s, path, "retrainIvfLedger") { staging =>
      // the standing corpus = committed assign rows minus committed
      // tombstones; a plain frame over the segment scans — each
      // consumer below (count, training sample, re-assign) is its own
      // pruned read, the bootstrap discipline (never a corpus-sized
      // driver pin)
      val corpus = s8Assign(s, path, None).select("vec_id", "embedding")
        .join(broadcast(s8Tombs(s, path)), Seq("vec_id"), "left_anti")
      val n = corpus.count()
      val cells = LshTuning.ivfCellsFor(n, ivfCellsFloor)
      trainCentroids(corpus, cells, n)
        .write.mode("overwrite").parquet(s"$staging/centroids")
      val cents = Parquet.read(s, s"$staging/centroids")
      writeAssign(s, staging, 0,
        assignNearest(corpus, cents).select("vec_id", "cid", "embedding"))
    }

  // --------------------------------------------------------------- S13
  // TOMBSTONES (deletes) for the persisted IVF ledger — the takedown
  // path every production index needs and append-only ledgers lack: a
  // document removed from the corpus (DMCA/GDPR/opt-out, a retracted
  // source) must stop surfacing in retrieval IMMEDIATELY, without
  // rewriting a corpus-sized index. A takedown appends `tomb` records
  // to the segment ledger's tombstone log, committed by the same
  // marker chain as the data segments, under the ledger's one writer
  // lock — idempotent on replay (novel ids only), takedown-sized (KBs
  // against a TB index). Readers that honor deletes anti-join the
  // broadcast tombstone set ABOVE the probe (s13); physical removal
  // is deferred to [[compactIvfLedger]], which applies every live
  // tombstone while merging segments and leaves a tomb-free compacted
  // ledger — the delete cost is folded into maintenance the chain
  // already pays, never a per-takedown index rewrite.

  /** Every live tombstoned id (one `vec_id` column; empty frame before
    * any takedown).
    */
  private[graft] def s8Tombs(s: SparkSession, path: String): DataFrame =
    SegmentLedger.tombs(s, path, "vec_id")

  /** Commit a tombstone segment for `ids` (a `vec_id` frame), under
    * the ledger's writer lock; idempotent (already-tombstoned ids
    * append nothing).
    */
  private[graft] def tombstoneIds(s: SparkSession, path: String,
      ids: DataFrame): Unit =
    SegmentLedger.withWriter(s, path, "tombstoneIds") {
      SegmentLedger.tomb(s, path, ids.select("vec_id").distinct()
        .join(s8Tombs(s, path), Seq("vec_id"), "left_anti"))
    }

  /** s8's candidate stage BEFORE the oracle tap: runs the two ledger
    * refreshes (bootstrap-or-noop + batch append) and builds the
    * stored-index probe join. Exposed so PlanSpec can gate the plan
    * that actually touches storage — the VerifyTap above it
    * materializes candidates, so the post-tap plan no longer shows the
    * ledger reads.
    */
  private[graft] def s8Candidates(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val path = s8LedgerPath(dir)
    // day 1: the standing corpus bootstraps the index (idempotent —
    // on re-runs the ledger already exists and nothing is novel)
    refreshIvfLedger(s, path, e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
    // day 2: today's batch lands — assigned to the STORED centroids,
    // appended as its own committed segment; the standing corpus is
    // untouched
    refreshIvfLedger(s, path, e)
    // the daily queries probe the PERSISTED index only
    s8Probe(s, path, e.filter(col("vec_id") < NQ))
  }

  /** The daily query plan alone: probe the PERSISTED index with query
    * vectors `q` (request-sized). Factored from [[s8Candidates]] so
    * `Bench ledger s8` times exactly this plan against a grown index.
    *
    * `nprobeBoost` widens the probe budget by that many extra cells —
    * the ESCALATION knob for predicate-filtered retrieval (s12): a
    * highly selective predicate leaves few allowed vectors inside the
    * default nprobe cells, starving the re-rank below k results /
    * tanking recall; boosting trades a linearly larger index read for
    * coverage (nprobe ≥ cells degenerates to the exact filtered scan —
    * recall 1.0 by construction, spec-gated). The recall-vs-selectivity
    * curve behind the knob's sizing is `graft.Bench recall filtered`
    * (BASELINE §recall-curve r19).
    */
  private[graft] def s8Probe(s: SparkSession, path: String,
      q: DataFrame, nprobeBoost: Int = 0): DataFrame = {
    val cents = Parquet.read(s, s"$path/centroids")
    val nprobe = LshTuning.nprobeFor(cents.count().toInt, nprobeFloor) +
      nprobeBoost
    val probeRows = probeNearest(q, cents, nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cid"))
    // ≤ NQ·nprobe cids, a driver-sized collect (d9's prefix-set
    // class). Probe selection is a deterministic total order
    // (sim desc, cid asc over fixed stored centroids), so this second
    // request-sized evaluation selects exactly the join's probe set
    val probedCids = probeRows.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq
    // reads nprobe/cells of the index's bytes: the cid prune lands as
    // PartitionFilters on every committed segment scan (plan-gated)
    val assign = s8Assign(s, path, Some(probedCids))
    assign.join(broadcast(probeRows), Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("qe"), col("embedding"))
  }

  private val s8 = QueryDef(
    "s8_ann_incremental",
    (s, dir) => {
      val cand = graft.sources.VerifyTap(s8Candidates(s, dir), "s8_cand")
      val scored = cand
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(rerankOracle("s8_cand")))

  // ---------------------------------------------------------------- S9
  // kNN GRAPH: every corpus vector gets its top-KG neighbors — the
  // building block of semantic-dedup clustering (SemDeDup), NN-descent
  // seeding, and diversity sampling, and a different SCALE SHAPE from
  // s1–s8: there the query side was request-sized and broadcast; here
  // EVERY vector is a query, so nothing about the probe side may be
  // window-funneled or broadcast.
  //
  // Plan: one trained coarse quantizer (s3's machinery — √n cells,
  // centroid table stays broadcast-sized at any corpus), then
  //  (1) assignment: each vector's home cell (map-side vs broadcast
  //      centroids + partial max_by — s3's assignNearest);
  //  (2) probe selection FOR THE WHOLE CORPUS: each vector's nprobe
  //      nearest cells via the bounded-heap TopKAggregate — the
  //      map-side partials ship ≤ nprobe rows per vector, where the
  //      per-qid window s3 uses for its 8 queries would shuffle
  //      n·cells scored rows into per-vector funnels;
  //  (3) candidates: probes ⋈ assignments on cid — BOTH sides
  //      corpus-sized, so this is a plain shuffle equi-join (no
  //      broadcast, no hint: at 100 TB neither side fits); volume is
  //      n·nprobe·occupancy ≈ n^1.5/√1 with √n cells — the standard
  //      IVF-graph trade, and the shuffle key is cid whose per-key
  //      payload (a cell's vectors) is BYTES-skewed when a region is
  //      dense, which AQE's skew split CAN see and divide (unlike the
  //      hamming hot-block's compute skew — BASELINE §skew);
  //  (4) exact cosine + bounded-heap top-KG per vector.
  // Multi-probe needs no pair dedup: assignment is unique per vector,
  // so (qid, vec_id) meets on exactly one cid.
  //
  // Oracle: same two-stage discipline as s2/s3 — Spark owns training/
  // bucketing BELOW the tap; DuckDB re-ranks the materialized
  // candidates (exact fold, ROW_NUMBER) above it. The tap is the
  // verification harness, not the algorithm.
  // CANDIDATES NEVER CROSS AN EXCHANGE: both sides of the cid join
  // carry their vector inline (n + n·nprobe vector rows map-side — the
  // only corpus-scale shuffle), and each joined candidate row computes
  // its cosine and collapses to 24 bytes inside the join's codegen
  // stage, feeding the bounded-heap partial agg — so the n^1.5
  // candidate volume exists only as streamed compute, never as
  // shuffled or materialized bytes. The r14 probe measured the
  // alternatives: an ids-only candidate stream with vectors re-joined
  // late shuffles the CANDIDATE-sized frame (×3, with vector payloads
  // attaching) — 72 s at sf1 vs 17 s; and routing the plan THROUGH a
  // vector-carrying tap materializes candidates × 2 vectors to disk —
  // 12.6 s at sf0.1 vs 3 s. The verification tap is therefore a SIDE
  // EFFECT: the candidate ids are written for the oracle but the live
  // plan does not read them back — sound because candidate generation
  // is deterministic (fixed trained centroids, deterministic
  // assignment and probe tie-breaks), the same determinism s8's
  // incremental-vs-from-scratch contract stands on; the tap-write job
  // re-runs the candidate join projected to ids (16 B/row).
  private[graft] val KG = 5

  /** Corpus-sided probe selection. Two sizing rules the r14 sf10 probe
    * taught (it OOM'd the first shape): (1) the crossJoin fans out
    * ×cells, so its input must be REPARTITIONED first — parquet sizes
    * splits by INPUT bytes, and a 51 MB embedding file is one split
    * whose fan-out (89M rows at sf10) otherwise lands on one task;
    * (2) the agg buffer carries only (sim, cid) — riding the query
    * vector through first() multiplied every buffered/sorted row by
    * the embedding width, and qe is re-attached afterwards by one
    * LINEAR n·nprobe join instead.
    */
  private[graft] def probeTopAgg(df: DataFrame, cents: DataFrame,
      keep: Int): DataFrame = {
    val top = df.repartition(col("vec_id"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(TopKAggregate.topKByScore(col("sim"), col("cid"), keep).as("top"))
      .select(col("vec_id"), explode(col("top")).as("c"))
      .select(col("vec_id"), col("c.id").as("cid"))
    top.join(df, Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("cid"))
  }

  /** s9's whole graph build, factored for reuse (s9 reports it
    * directly; d15's SemDeDup keep-rule consumes the edges): the
    * corpus top-[[KG]] kNN edges (qid, rank, neighbor_id, cosine),
    * unordered, with the candidate ids tapped under `tap` for the
    * two-stage oracle. See the S9 header for the scale analysis.
    */
  /** The scored candidate stage of the corpus kNN-graph build —
    * everything BELOW the oracle tap (train, assign, probe, candidate
    * join, cosine), one codegen pipeline. Factored so PlanSpec can
    * gate the plan that actually does the corpus-scale work: with the
    * tap-routed build (r18), the post-tap plan only shows the tap
    * read + heap (the s8Candidates precedent).
    */
  private[graft] def knnGraphScored(s: SparkSession, dir: String,
      nprobeBoost: Int = 0): DataFrame = {
    val e = emb(s, dir)
    val n = e.count()
    val ivfCells = LshTuning.ivfCellsFor(n, ivfCellsFloor)
    val cents = trainCentroids(e, ivfCells, n)
    // nprobe keys off the TRAINED centroid count, not the requested
    // cell count: Lloyd drops empty cells, and a divergence across an
    // nprobe rounding boundary would give the rebuild a different
    // probe budget than the ledger (refreshKnnLedger keys off the
    // stored count) — silently breaking the d15l/s11l ledger-≡-rebuild
    // twin contract (r17 review; the same hazard the r16 advisory
    // closed on the ledger's own two branches)
    val nprobe = LshTuning.nprobeFor(cents.count().toInt, nprobeFloor) +
      nprobeBoost
    val assign = assignNearest(e, cents)
    val probes = probeTopAgg(e, cents, nprobe)
    val cand = assign.join(probes, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
    cand.withColumn("cosine", cosine(col("qe"), col("embedding")))
      .select("qid", "vec_id", "cosine")
  }

  /** Below this corpus size a tapped build ROUTES THROUGH the scored
    * tap; at or above it the tap is a SIDE EFFECT and the join runs
    * twice. Measured, not guessed (the d4/q36 arm discipline —
    * BASELINE §sf10 r19): r18 shipped the
    * tap-route unconditionally on the argument that one execution +
    * a 24 B/row read-back must beat two executions — the r19 sf10
    * measurement FALSIFIED it (s9 249.6 vs 157.7 s, d15 333.3 vs
    * 169.0 s, same window, s11 control named): the candidate join's
    * per-row work is register-cheap, so streaming the candidates a
    * second time into the partial heaps costs less than writing AND
    * reading the candidate-sized (n^1.75-row) tap. Tap-route wins
    * only where the whole build is constants (sf0.01: 1.90 vs
    * 2.09 s) — below this threshold the write is one small file and
    * the saved execution is the larger term. Production (tap = None)
    * is single-execution with zero tap IO under either arm.
    */
  private[graft] val tapRouteMaxN = 10000L

  /** Corpus size per testdata dir, memoized: the tap-arm route key is
    * a statistic of the input table, so paying a full embeddings-scan
    * count JOB on every tapped build (r19-advice) is pure overhead at
    * exactly the large scales the side-effect arm exists for. The memo
    * keys on the table's file signature (path + length + mtime — one
    * metadata call), not the dir string alone, so a dir REGENERATED
    * in-place in the same JVM (ScaleUp re-synthesizing /tmp/graft_sf1)
    * re-counts instead of mis-routing the arm on a stale size
    * (r20 review).
    */
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def corpusCount(s: SparkSession, dir: String): Long = {
    val f = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sig =
      try {
        val st = fs.getFileStatus(f)
        Some(s"$dir|${st.getLen}|${st.getModificationTime}")
      } catch { case _: java.io.IOException => None }
    // No signature (transient getFileStatus failure, or a layout whose
    // top-level name differs) → count uncached: memoizing under the
    // dir-only key would permanently pin a stale count for a dir
    // regenerated in place — the exact mis-routing the signature exists
    // to prevent (r21, ADVICE r20).
    sig.fold(emb(s, dir).count())(k => corpusCounts.computeIfAbsent(k,
      _ => java.lang.Long.valueOf(emb(s, dir).count())).longValue())
  }

  private[graft] def knnGraphEdges(s: SparkSession, dir: String,
      tap: Option[String], nprobeBoost: Int = 0, k: Int = KG,
      forceTapRoute: Option[Boolean] = None): DataFrame = {
    val scored = knnGraphScored(s, dir, nprobeBoost)
    // Oracle tap, SIZE-KEYED (r19 — see tapRouteMaxN): small corpora
    // route through the scored tap (one execution; the tap write IS
    // the build and the heap reads 24 B/row back); large corpora
    // write the ids tap as a side effect and let the returned plan
    // re-execute the join — two streamed executions beat a
    // candidate-sized write+read at every data-dominated scale
    // (BASELINE §sf10 r19). Both arms feed the identical oracle (it
    // reads qid/vec_id and re-scores from the embeddings table) and
    // produce identical edges (same scored plan — spec-gated).
    // None skips the tap entirely (s11 taps its own merged union;
    // knnGraphRefined verifies via recall).
    val out = tap.fold(scored) { t =>
      val route = forceTapRoute.getOrElse(
        corpusCount(s, dir) < tapRouteMaxN)
      if (route) graft.sources.VerifyTap(scored, t, coalesce = false)
      else {
        graft.sources.VerifyTap(
          scored.select(col("qid"), col("vec_id")), t, coalesce = false)
        scored
      }
    }
    topKAgg(out, k, ordered = false)
  }

  private val s9 = QueryDef(
    "s9_knn_graph",
    (s, dir) => knnGraphEdges(s, dir, Some("s9_cand")).orderBy("qid", "rank"),
    Some(knnGraphOracle))

  /** Graph-source seam for every consumer of the corpus kNN graph
    * (d15's SemDeDup keep-rule, s11's NN-descent): REBUILD pays the
    * one-shot s9 build (n^1.5 candidate compute — fine weekly);
    * LEDGER reads the maintained s10 segment chain instead — the
    * production daily path, ~CC + a partition-pruned read. Both arms
    * emit the same (qid, rank, neighbor_id, cosine) shape and both
    * carry the two-stage oracle tap, so consumers stay oracle-checked
    * under either source. Ledger ≡ rebuild row-for-row when the
    * ledger was bootstrapped on the same corpus (AnnRecallSpec's
    * merged-equals-one-pass contract + deterministic training;
    * spec-gated in DedupConsistencySpec).
    *
    * PRODUCTION RECALL CONFIG (F18, r18): consumers that need the
    * 0.8 recall@5 floor should read [[knnGraphRefinedLedger]] — the
    * maintained graph plus 2 NN-descent rounds at workK = 2·[[KG]]
    * (measured 0.830 at sf0.1, curve 0.624 → 0.680 → 0.830; floored
    * in AnnRecallSpec on BOTH the rebuild and ledger paths, cost rows
    * in BASELINE §recall-curve and the s10-growth table). The raw
    * ledger read (this seam) is the dedup-grade graph — SemDeDup/CC
    * consumers tolerate its recall because the keep-rule only needs
    * near-duplicate EDGES, not complete neighborhoods.
    */
  private[graft] sealed trait KnnGraphSource
  private[graft] case object RebuildGraph extends KnnGraphSource
  private[graft] case class LedgerGraph(path: String) extends KnnGraphSource

  /** The corpus kNN edges from `source` (see [[KnnGraphSource]]).
    * Ledger mode ensures the ledger exists first — an absent ledger
    * bootstraps on the full corpus (one s9-cost build, amortized over
    * every later daily read); an existing one ingests only novel
    * vectors (O(batch)) — then merges the committed segments.
    */
  /** Bounded retry for READ-path ledger refreshes (r17 advisory): a
    * query consuming the ledger (d15l/s11l/c1l's ensure-exists
    * refresh) that collides with a concurrent writer's fail-fast
    * [[graft.state.LedgerBusy]] refusal should degrade to WAITING, not
    * throw — the writer's work is exactly what the reader wants to
    * see. Writers keep fail-fast: an ingest pipeline racing itself is a
    * bug to surface. Linear
    * backoff, ~30 s worst case, then the original error propagates.
    */
  private[graft] def withLeaseRetry[A](attempts: Int = 5)(body: => A): A = {
    def go(i: Int): A =
      try body catch {
        case _: graft.state.LedgerBusy if i < attempts =>
          Thread.sleep(2000L * i)
          go(i + 1)
      }
    go(1)
  }

  private[graft] def knnGraph(s: SparkSession, dir: String,
      tap: Option[String], source: KnnGraphSource): DataFrame =
    source match {
      case RebuildGraph => knnGraphEdges(s, dir, tap)
      case LedgerGraph(path) =>
        withLeaseRetry() { refreshKnnLedger(s, path, emb(s, dir)) }
        s10Graph(s, path, tap)
    }

  /** Quantizer-source seam (r18 — the [[KnnGraphSource]] pattern for
    * the COARSE QUANTIZER): consumers that need a cluster assignment
    * (c1/c2's cluster-balanced mixtures) either TRAIN per run (the
    * self-contained oracle-heavy twin) or read the STORED centroids of
    * the s8 IVF retrieval ledger — the quantizer the pipeline already
    * maintains, trained ONCE at bootstrap and fixed thereafter (the
    * s8 contract that makes assignment deterministic and incremental ≡
    * from-scratch provable). The production run should not pay — or
    * drift with — a per-run Lloyd retraining: r17 measured the
    * retraining constant as c1/c2's entire gap over their DuckDB rows
    * (which start from tapped centroids and skip training).
    */
  private[graft] sealed trait QuantizerSource
  private[graft] case object TrainQuantizer extends QuantizerSource
  private[graft] case class StoredQuantizer(path: String)
      extends QuantizerSource

  /** The centroid table from `source`. Stored mode ensures the s8
    * ledger exists first — an absent ledger bootstraps on the full
    * corpus (one training, amortized over every later read).
    */
  private[graft] def quantizerCentroids(s: SparkSession, dir: String,
      source: QuantizerSource): DataFrame = source match {
    case TrainQuantizer =>
      val e = emb(s, dir)
      val n = e.count()
      trainCentroids(e, LshTuning.ivfCellsFor(n, ivfCellsFloor), n)
    case StoredQuantizer(path) =>
      if (!ledgerBootstrapped(s, path))
        withLeaseRetry() { refreshIvfLedger(s, path, emb(s, dir)) }
      Parquet.read(s, s"$path/centroids")
  }

  /** The kNN-graph oracle's CTE block, shared by s9 (reported
    * directly) and d15's SemDeDup keep-rule: the tap carries candidate
    * IDS; DuckDB re-joins the embeddings table per side (the same
    * fetch the Spark plan runs), re-ranks with the exact fold, and
    * ends in `granked` = the top-[[KG]] edges (qid, vec_id, rank,
    * cosine) — everything above the tap is cross-checked, including
    * the two id joins.
    */
  private[queries] def knnGraphCtes(tap: String,
      candWhere: String = ""): String =
    s"""cand AS (
       |  SELECT qid, vec_id
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/$tap/*.parquet')
       |  $candWhere
       |), pairs AS (
       |  SELECT c.qid, c.vec_id, eq.embedding AS qe, ev.embedding AS embedding
       |  FROM cand c
       |  JOIN embeddings eq ON eq.vec_id = c.qid
       |  JOIN embeddings ev ON ev.vec_id = c.vec_id
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM pairs
       |), granked AS (
       |  SELECT qid, vec_id, rank, cosine FROM (
       |    SELECT qid, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |      cosine
       |    FROM scored)
       |  WHERE rank <= $KG
       |)""".stripMargin

  private def knnGraphOracle: String =
    s"""WITH ${knnGraphCtes("s9_cand")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin


  // --------------------------------------------------------------- S10
  // INCREMENTAL kNN-GRAPH MAINTENANCE — the missing O(batch) path next
  // to s9: s9 builds the corpus graph from scratch (n^1.5 candidate
  // compute — fine weekly, not daily), s8 proves the committed-segment
  // ledger discipline for retrieval; s10 is that discipline applied to
  // the GRAPH so a daily embedding batch updates it in work
  // proportional to the batch and the graph rows it actually touches —
  // batch·nprobe·occupancy for the new vectors plus
  // affected·(batch/cells) for the standing side, where "affected" is
  // the probe rows landing in the batch's home cells (a
  // partition-pruned read; linear BYTES in the worst case of a batch
  // hitting every cell, but never the from-scratch rebuild's n^1.5
  // candidate COMPUTE — the `Bench ledger s10` scenario measures the
  // flatness):
  //
  //   ledger = centroids (trained once at bootstrap, then FIXED — the
  //   s8 contract that makes incremental ≡ from-scratch provable) +
  //   per-segment assign (vec_id, embedding, cid; cid-partitioned),
  //   probes (qid, cid; partitioned BY THE PROBED cid — each
  //   vector's nprobe probe cells, its vector NOT riding), edges
  //   (qid, vec_id, cosine: the segment's per-qid top-KG additions),
  //   and the slim ids sidecar (novelty decisions never read vectors).
  //
  // Append of batch B (all reads partition-pruned, all writes
  // batch-sized):
  //   (1) B's vectors get edges vs the WHOLE standing index: B's
  //       probes ⋈ (committed assign pruned to B's probed cells ∪ B's
  //       own assign) — O(batch · nprobe · occupancy);
  //   (2) standing vectors whose PROBE SET the batch lands in get
  //       their new candidates: committed probes pruned to B's HOME
  //       cells ⋈ B's assign — the probes partitioning makes "who is
  //       affected" a PartitionFilters read, never a corpus scan; the
  //       affected rows' qe re-attaches by an id join against a
  //       column-pruned scan of the committed assign rows (the probes
  //       layout below);
  //   (3) both candidate sets score exact cosine and per-qid top-KG
  //       (bounded heap) into the segment's edges file.
  //
  // The READ is a merge: union every committed segment's edges, per-qid
  // top-KG again. Exact by the heap-merge property — for any split
  // A ∪ B of a qid's candidates, topK(topK(A) ∪ topK(B)) = topK(A ∪ B)
  // under the deterministic (cosine desc, vec_id asc) total order —
  // and candidate COVERAGE equals from-scratch-against-stored-
  // centroids by construction: a full rebuild's candidates for old q
  // are (old ∪ B) ∩ probecells(q) = seg-old's ∪ step (2)'s, and for
  // new q exactly step (1)'s. AnnRecallSpec asserts the merged ledger
  // graph row-identical to the one-pass s9-style build against the
  // stored quantizer.
  //
  // Crash atomicity, torn segments, idempotent replays: the s8
  // segment ledger verbatim ([[graft.state.SegmentLedger]]: readers
  // see only marker-committed segments; novelty keys on committed
  // ids). Long chains pay the same per-seg listing tax as s8 — F16's
  // compaction pattern applies unchanged.
  //
  // Oracle: the s9 two-stage discipline one level up — the tap carries
  // the UNION of every segment's edge ids (per-seg top-KG survivors,
  // output-sized), DuckDB re-joins embeddings, re-scores the exact
  // fold and re-ranks to top-KG: the stored cosines, the cross-segment
  // merge, and the final ranks are all cross-checked. The per-seg
  // candidate generation sits below the tap, gated by the
  // incremental-≡-from-scratch spec (the s8 split).
  private[graft] def s10LedgerPath(dir: String): String = StatePath(dir, "s10_knn", "_p4")

  private def s10AssignCols = Seq(col("vec_id"), col("embedding"),
    col("cid").cast(LongType).as("cid"))
  // PROBES LAYOUT: probes store (qid, cid) only — the query vector
  // does NOT ride ×nprobe. At 100 TB storing it would multiply the
  // corpus' vector bytes by the probe budget; instead qe re-derives at
  // append time by an id-keyed join against the ledger's own assign
  // rows (standing side: an UNPRUNED but column-pruned scan of assign
  // — (vec_id, embedding) only; batch side: the batch's own assign
  // seg). Measured against storing qe (`Bench ledger s10`, BASELINE
  // §r17 probes-storage, §r27, §r28): 60× less probe storage (90.2 →
  // 1.5 MiB at the 10× corpus) and identical reads, for +25–26% append
  // wall. A probes segment that also stores qe (the deleted fat
  // layout) reads the same: the read projects it to (qid, cid).
  private def s10ProbeCols = Seq(col("qid"),
    col("cid").cast(LongType).as("cid"))

  /** Re-attach the probe rows' query vectors from an assign-side
    * (vec_id, embedding) source.
    */
  private def attachQe(probes: DataFrame, assignSrc: DataFrame)
      : DataFrame =
    probes.join(assignSrc.select(col("vec_id").as("qid"),
      col("embedding").as("qe")), Seq("qid"))

  /** Score + per-qid top-KG of one segment's candidate additions. */
  private def s10SegEdges(cand: DataFrame): DataFrame =
    topKAgg(cand.filter(col("qid") =!= col("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine"),
      KG, ordered = false)
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))

  /** Bootstrap-or-append the kNN-graph ledger from `prior` — s8's
    * refresh contract extended with probes + edges: bootstrap trains
    * the quantizer and builds the first segment (the s9 graph of the
    * standing corpus); append computes only the NOVEL vectors' edges
    * plus the affected standing vectors' additions (header steps 1–3).
    */
  private[graft] def refreshKnnLedger(s: SparkSession, path: String,
      prior: DataFrame): Unit =
      SegmentLedger.withWriter(s, path, "refreshKnnLedger") {
    val centDir = s"$path/centroids"
    val boot = !ledgerBootstrapped(s, path)

    // write one segment and commit it: assign/probes land first (each
    // consumed ONCE — edge joins read the written segs back, never
    // re-execute a corpus- or batch-sized computed frame)
    def writeSeg(assignRows: DataFrame, probeRows: DataFrame)(
        edgesOf: (DataFrame, DataFrame) => DataFrame): Unit = {
      val k = SegmentLedger.next(s, path)
      writeAssign(s, path, k, assignRows)
      SegmentLedger.write(probeRows.select("qid", "cid"), path, "probes", k,
        Some("cid"))
      val a = SegmentLedger.readSegment(s, path, "assign", k)
        .select(s10AssignCols: _*)
      val p = SegmentLedger.readSegment(s, path, "probes", k)
        .select(s10ProbeCols: _*)
      SegmentLedger.write(edgesOf(a, p), path, "edges", k)
      SegmentLedger.commit(s, path, k)
    }

    if (boot) {
      val n = prior.count()
      val cells = LshTuning.ivfCellsFor(n, ivfCellsFloor)
      trainCentroids(prior, cells, n)
        .write.mode("overwrite").parquet(centDir)
      val cents = Parquet.read(s, centDir)
      // nprobe keys off the STORED centroid count, not the requested
      // cell count: trainCentroids' Lloyd step drops empty cells, and
      // a divergence across an nprobe rounding boundary would give
      // seg=0's persisted probes a different budget than every later
      // segment and the from-scratch reference — silently breaking the
      // incremental-≡-from-scratch contract (r16 advisory)
      val nprobe = LshTuning.nprobeFor(cents.count().toInt, nprobeFloor)
      writeSeg(
        assignNearest(prior, cents).select("vec_id", "cid", "embedding"),
        probeTopAgg(prior, cents, nprobe)) {
        // the first segment's edges = the s9 graph of the bootstrap
        // corpus (qe re-attaches from the segment's own assign rows)
        (a, p) => s10SegEdges(attachQe(p, a).join(a, Seq("cid")))
      }
    } else {
      val novel = prior
        .join(s8Ids(s, path), Seq("vec_id"), "left_anti")
        .localCheckpoint()
      if (!novel.isEmpty) {
        val cents = Parquet.read(s, centDir)
        val nprobe = LshTuning.nprobeFor(cents.count().toInt, nprobeFloor)
        writeSeg(
          assignNearest(novel, cents).select("vec_id", "cid", "embedding"),
          probeTopAgg(novel, cents, nprobe)) { (bAssign, bProbes0) =>
          // the batch probes' qe re-attaches from the batch's own
          // assign seg (batch-sized id join)
          val bProbes = attachQe(bProbes0, bAssign)
          // both cid lists are ≤ cells longs (the s8 probedCids class
          // of driver-sized collect — bounded by the centroid count at
          // ANY batch size)
          val probedCids = bProbes.select("cid").distinct()
            .collect().map(_.getLong(0)).toSeq
          val batchCids = bAssign.select("cid").distinct()
            .collect().map(_.getLong(0)).toSeq
          // (1) new vectors vs the whole index (pruned to their cells;
          //     the batch's own segment is not committed yet, so the
          //     committed read is exactly the standing index)
          val candNew = bProbes.join(
            s8Assign(s, path, Some(probedCids)).unionByName(bAssign),
            Seq("cid"))
          // (2) affected standing vectors vs the batch (pruned to the
          //     batch's home cells). The standing probes' qe
          //     re-attaches from the standing assign union — UNPRUNED
          //     by cid (a probe row's home cell isn't its probed cell)
          //     but column-pruned to (vec_id, embedding): the measured
          //     append-time price of not storing qe ×nprobe
          val candOld = attachQe(
              SegmentLedger.read(s, path, "probes", s10ProbeCols,
                Some(batchCids)),
              SegmentLedger.read(s, path, "assign",
                Seq(col("vec_id"), col("embedding"))))
            .join(bAssign, Seq("cid"))
          s10SegEdges(candNew.unionByName(candOld))
        }
      }
    }
  }

  /** The merged graph read: union every committed segment's edge rows,
    * per-qid top-KG (exact by the heap-merge property — header). The
    * tap (ids only, s9's side-effect discipline) carries the union so
    * the oracle re-checks cosines, merge, and ranks.
    *
    * HONORS LIVE TOMBSTONES (s14, r19): a taken-down vec_id must
    * vanish from the graph TWICE — as a query vertex (its own
    * neighbor list) and as a NEIGHBOR inside other vectors' top-KG
    * lists — so the read anti-joins the broadcast tombstone set on
    * BOTH columns, above the tap (the s13 pre-exclusion tap pattern:
    * the oracle re-derives the takedown set and the exclusion itself,
    * so a leaked tombstoned vertex hash-fails) and BELOW the heap
    * (exclusion before ranking lets lower-ranked alive candidates
    * backfill from the union — ranks are over the ALIVE candidate
    * set). Every seam consumer (d15l/s11l/p4,
    * [[knnGraphRefinedLedger]]) honors deletes through this one read —
    * honoring deletes is the READER's contract.
    */
  private[graft] def s10Graph(s: SparkSession, path: String,
      tap: Option[String]): DataFrame = {
    val all = SegmentLedger.read(s, path, "edges")
    tap.foreach(t => graft.sources.VerifyTap(
      all.select(col("qid"), col("vec_id")), t, coalesce = false))
    val tombs = s8Tombs(s, path)
    val alive = all
      .join(broadcast(tombs.select(col("vec_id").as("qid"))),
        Seq("qid"), "left_anti")
      .join(broadcast(tombs), Seq("vec_id"), "left_anti")
    topKAgg(alive, KG, ordered = false)
  }

  /** F16's compaction for the s10 segment chain — the
    * compactIvfLedger discipline over the graph ledger's four
    * sub-tables: assign/probes/ids concatenate into a single seg=0
    * (written by the same cid-partitioned layout, so pruned reads stay
    * bit-identical); EDGES compact to the per-qid top-KG of the union —
    * the merge itself, exact and idempotent by the heap-merge property,
    * so the merged-graph read is row-identical before and after
    * (spec-gated).
    */
  private[graft] def compactKnnLedger(s: SparkSession,
      path: String): Unit =
    SegmentLedger.compact(s, path, "compactKnnLedger",
        SegmentLedger.segments(s, path, "assign").size > 1 ||
          SegmentLedger.segments(s, path, "tombs").nonEmpty) { staging =>
      val hasTombs = SegmentLedger.segments(s, path, "tombs").nonEmpty
      // takedown-sized; consumed by several purge joins below
      val tombs = s8Tombs(s, path).localCheckpoint()
      Parquet.read(s, s"$path/centroids")
        .write.mode("overwrite").parquet(s"$staging/centroids")
      // consumed once each, wholly before the swap. Live tombstones
      // are APPLIED physically on every sub-table (the
      // compactIvfLedger contract — promoting without applying them
      // would resurrect every takedown): assign/ids drop the
      // tombstoned VECTORS, probes drop the tombstoned OWNERS
      writeAssign(s, staging, 0, s8Assign(s, path, None)
        .join(broadcast(tombs), Seq("vec_id"), "left_anti"))
      SegmentLedger.write(SegmentLedger.read(s, path, "probes",
          s10ProbeCols)
        .join(broadcast(tombs.select(col("vec_id").as("qid"))),
          Seq("qid"), "left_anti"), staging, "probes", 0, Some("cid"))
      // edge fold = the merge read itself (exact, idempotent; the
      // read already excludes tombstones on BOTH sides) — PLUS the
      // repair round when a takedown was applied: a vertex that
      // lost neighbors to the exclusion can sit under KG edges
      // (recall decay) until its list is refilled (s14 / r18
      // verdict #2)
      SegmentLedger.write(repairedEdges(s, path, tombs, hasTombs, staging),
        staging, "edges", 0)
    }

  /** Compaction's edge output: the excluding merged read, REPAIRED for
    * the vertices a takedown decayed (s14, r19). Every purge leaves
    * < KG edges on "affected" vectors — the alive vertices that held a
    * tombstoned id in their stored lists — until their neighborhoods
    * are refilled. The repair is ONE descent round (the F21 machinery)
    * RESTRICTED to the affected set: candidates are
    * neighbors-of-neighbors through the purged graph's bounded
    * symmetric adjacency, so the compute is O(affected · (2·KG)²) —
    * affected is bounded by the takedown set's stored in-degree, never
    * the corpus — and tombstoned ids are anti-joined out of the novel
    * candidates so a repair can never resurrect a takedown. Scoring
    * vectors come from the staging's just-written PURGED assign rows
    * (id-keyed fetches; a tombstoned vector physically cannot score).
    * Non-affected vertices' candidate sets are exactly their purged
    * rows, so the final top-KG re-rank leaves them row-identical
    * (spec-gated).
    */
  private def repairedEdges(s: SparkSession, path: String,
      tombs: DataFrame, hasTombs: Boolean, staging: String): DataFrame = {
    // the excluding merged read IS the purged graph (s10Graph honors
    // tombstones); with no takedown the one write consumes it as is
    val merged = s10Graph(s, path, None)
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
    if (!hasTombs) merged
    else {
      // output-sized (≤ n·KG), pinned — consumed by the adjacency, the
      // anti-join, and the final union
      val purged = merged.localCheckpoint()
      // rebase derivatives on materialized RDDs before re-meeting
      // `purged` in joins/unions (the nnDescentRound discipline —
      // duplicate-attribute arms trip Catalyst's constraint rewrite);
      // internal-row rebase, not createDataFrame(df.rdd) — no per-row
      // external-Row codec pass (r22)
      def fresh(df: DataFrame): DataFrame =
        org.apache.spark.sql.GraftBridge.rebase(df)
      val affected = SegmentLedger.read(s, path, "edges")
        .join(broadcast(tombs), Seq("vec_id")) // lost-neighbor edges
        .select("qid").distinct()
        .join(broadcast(tombs.select(col("vec_id").as("qid"))),
          Seq("qid"), "left_anti") // the removed vertex itself: gone
        .localCheckpoint()
      val rev = fresh(topKAgg(purged.select(col("vec_id").as("qid"),
          col("qid").as("vec_id"), col("cosine")), KG, ordered = false)
        .select(col("qid"), col("neighbor_id").as("vec_id")))
      val adj = fresh(purged.select("qid", "vec_id").unionByName(rev)
        .dropDuplicates("qid", "vec_id")
        .localCheckpoint())
      val novelPairs = adj.join(broadcast(affected), Seq("qid")).as("a")
        .join(adj.as("b"), col("a.vec_id") === col("b.qid"))
        .select(col("a.qid").as("qid"), col("b.vec_id").as("vec_id"))
        .filter(col("qid") =!= col("vec_id"))
        .dropDuplicates("qid", "vec_id")
        .join(purged.select("qid", "vec_id"), Seq("qid", "vec_id"),
          "left_anti")
        .join(broadcast(tombs), Seq("vec_id"), "left_anti")
      val vecSrc = SegmentLedger.readSegment(s, staging, "assign", 0)
        .select(col("vec_id"), col("embedding"))
      val novel = fresh(novelPairs
        .join(vecSrc.select(col("vec_id").as("qid"),
          col("embedding").as("qe")), Seq("qid"))
        .join(vecSrc, Seq("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
        .localCheckpoint())
      topKAgg(purged.unionByName(novel), KG, ordered = false)
        .select(col("qid"), col("neighbor_id").as("vec_id"),
          col("cosine"))
    }
  }

  /** [[retrainIvfLedger]]'s sibling for the kNN-GRAPH ledger (r19):
    * fresh quantizer + full graph rebuild of the standing corpus
    * (committed assign rows minus live tombstones) as a staged
    * ledger, swapped in under the ledger's writer lock. The staging
    * build IS a from-scratch bootstrap — `refreshKnnLedger` on the
    * staging path trains cells re-keyed to the CURRENT corpus size and
    * writes seg=0's s9 graph — so retrained ≡ from-scratch holds by
    * construction (and is spec-asserted against an independent fresh
    * path); readers (s10Graph, the d15l/s11l/p4 seam, F21's refined
    * read) stay on the old ledger's committed state until the one-
    * rename flip. The retrain cost is the bootstrap's own n^1.5 class,
    * paid per scheduled migration and amortized over the daily
    * O(batch) appends it re-anchors.
    */
  private[graft] def retrainKnnLedger(s: SparkSession,
      path: String): Unit =
    SegmentLedger.compact(s, path, "retrainKnnLedger") { staging =>
      val corpus = s8Assign(s, path, None).select("vec_id", "embedding")
        .join(broadcast(s8Tombs(s, path)), Seq("vec_id"), "left_anti")
      // the staging build is a plain bootstrap (its own writer lock on
      // the staging path — disjoint from the live ledger's)
      refreshKnnLedger(s, staging, corpus)
    }

  private val s10 = QueryDef(
    "s10_knn_incremental",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s10LedgerPath(dir)
      // day 1: the standing corpus bootstraps the graph (idempotent —
      // on re-runs the ledger exists and nothing is novel)
      refreshKnnLedger(s, path, e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
      // day 2: today's batch lands — only its edges and the affected
      // standing vectors' additions are computed
      refreshKnnLedger(s, path, e)
      s10Graph(s, path, Some("s10_cand")).orderBy("qid", "rank")
    },
    Some(s"""WITH ${knnGraphCtes("s10_cand")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin))


  // --------------------------------------------------------------- S11
  // NN-DESCENT refinement — the recall lever s9's √n probe budget
  // leaves on the table (Dong et al. 2011: a vector's true neighbors
  // are, with high probability, neighbors of its CURRENT neighbors).
  // One round over the s9 base graph:
  //   (1) bounded symmetric adjacency: forward edges plus each
  //       vertex's top-KG REVERSE edges — the reverse cap is the
  //       NN-descent sampling trick, here by cosine rank, so hub
  //       vectors (unbounded in-degree on a raw reversal) cannot
  //       quadratic the expansion: degree ≤ 2·KG per vertex;
  //   (2) neighbor-of-neighbor expansion: adj ⋈ adj through the shared
  //       middle — ≤ 4·KG²·n candidate pairs (LINEAR in n, vs the base
  //       build's n^1.5: a descent round costs a vanishing fraction of
  //       the build it refines), deduped (a pair reachable through two
  //       middles must enter the heap once) and anti-joined against
  //       the base edges;
  //   (3) exact cosine on the novel pairs (two id-keyed vector
  //       fetches), then top-KG over base ∪ novel — exact by the same
  //       heap-merge property s10 stands on.
  // Base and novel frames are output-sized and localCheckpoint-pinned
  // (the d6/d10 discipline: the merge must not replay the IVF join or
  // the expansion).
  //
  // Oracle: tap the merged candidate ids (base edges ∪ novel pairs —
  // output-sized, ≤ (4KG² + KG)·n), DuckDB re-joins embeddings,
  // re-scores the exact fold, re-ranks to top-KG: cosines, the
  // dedup/anti-join disjointness, and the merge are all cross-checked.
  // Recall: AnnRecallSpec measures the round-0/1 lift vs the exact
  // graph; the recall-vs-cost curve (rounds 0/1/2) lives in BASELINE
  // via `graft.Bench recall`.

  /** One NN-descent round over an edge frame (qid, vec_id, cosine):
    * the refined top-KG graph, unordered. Iterable — round 2 is
    * `nnDescentRound(s, dir, nnDescentRound(s, dir, base))`.
    */
  private[graft] def nnDescentRound(s: SparkSession, dir: String,
      base0: DataFrame, tap: Option[String] = None,
      workK: Int = KG): DataFrame = {
    val base = base0.select(col("qid"), col("vec_id"), col("cosine"))
      .localCheckpoint()
    // every frame below descends from `base`, so unions of a frame
    // with its own derivative re-meet the same attribute ids — the
    // duplicate-attribute constraint-rewrite trap ConnectedComponents
    // documents; rebasing on the INTERNAL row stream mints fresh ids
    // without the external-Row decode/re-encode the old
    // `createDataFrame(df.rdd, schema)` route paid per row (r22, the
    // same swap CC and GlobalOrder made in r21)
    def fresh(df: DataFrame): DataFrame =
      org.apache.spark.sql.GraftBridge.rebase(df)
    // (1) bounded symmetric adjacency
    val rev = fresh(topKAgg(base.select(col("vec_id").as("qid"),
        col("qid").as("vec_id"), col("cosine")), workK, ordered = false)
      .select(col("qid"), col("neighbor_id").as("vec_id")))
    // pinned: output-sized, reused on BOTH sides of the expansion
    // self-join
    val adj = fresh(base.select("qid", "vec_id").unionByName(rev)
      .dropDuplicates("qid", "vec_id")
      .localCheckpoint())
    // (2) expansion through the shared middle; novel pairs only
    val novel = adj.as("a").join(adj.as("b"),
        col("a.vec_id") === col("b.qid"))
      .select(col("a.qid").as("qid"), col("b.vec_id").as("vec_id"))
      .filter(col("qid") =!= col("vec_id"))
      .dropDuplicates("qid", "vec_id")
      .join(base.select("qid", "vec_id"), Seq("qid", "vec_id"),
        "left_anti")
    // (3) exact cosine on the novel pairs — two id-keyed fetches
    val e = emb(s, dir)
    val scored = fresh(novel
      .join(e.select(col("vec_id").as("qid"),
        col("embedding").as("qe")), Seq("qid"))
      .join(e, Seq("vec_id"))
      .withColumn("cosine", cosine(col("qe"), col("embedding")))
      .select("qid", "vec_id", "cosine")
      .localCheckpoint())
    val all = base.unionByName(scored)
    tap.foreach(t => graft.sources.VerifyTap(
      all.select(col("qid"), col("vec_id")), t, coalesce = false))
    topKAgg(all, workK, ordered = false)
      .select(col("qid"), col("neighbor_id").as("vec_id"),
        col("cosine"), col("rank"))
  }

  /** The PRODUCTION-recall kNN-graph build — the measured configuration
    * that clears the 0.8 recall@[[KG]] floor the one-round s11 curve
    * plateaus under (0.692 at sf0.1: the IVF seed bounds candidate
    * diversity, not round count). Three levers, each measured
    * head-to-head in BASELINE §recall-curve (r17):
    *   - the seed graph keeps an internal working width K′ = 2·KG
    *     (Dong 2011's sample-rate knob: a wider working list feeds the
    *     expansion more distinct middle nodes — the diversity the seed
    *     lacked);
    *   - the seed build probes one extra cell (nprobeBoost = 1);
    *   - `rounds` descent iterations at width K′, pruned to KG once at
    *     the end (prune-early loses exactly the diversity the width
    *     bought).
    * Cost stays linear-per-round (the degree cap scales with K′:
    * candidates ≤ 4·K′²·n); the measured curve puts the combined
    * config at recall@5 ≥ 0.8 at sf0.1 for rounds = 2 (floored in
    * AnnRecallSpec).
    */
  private[graft] def knnGraphRefined(s: SparkSession, dir: String,
      rounds: Int = 2, workK: Int = 2 * KG, nprobeBoost: Int = 1)
      : DataFrame = {
    var g = knnGraphEdges(s, dir, None, nprobeBoost, workK)
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
    (1 to rounds).foreach { _ =>
      g = nnDescentRound(s, dir, g, None, workK)
        .select("qid", "vec_id", "cosine")
    }
    topKAgg(g.select(col("qid"), col("vec_id"), col("cosine")),
      KG, ordered = false)
  }

  /** [[knnGraphRefined]] THROUGH THE LEDGER (r18, F18's production
    * wiring): the maintained s10 graph seeds `rounds` descent
    * iterations at working width `workK`, pruned to [[KG]] at the end.
    * The stored base is KG-wide (the ledger's layout), not the
    * rebuild-refined config's 2·KG seed — round 1's expansion rebuilds
    * the working width (novel candidates merge at workK), so the
    * recall floor is reachable WITHOUT ever paying the n^1.5 seed
    * rebuild: daily cost = O(batch) ledger maintenance + linear
    * descent rounds. Measured on the recall curve (BASELINE
    * §recall-curve, ledger arm) and floored in AnnRecallSpec.
    */
  private[graft] def knnGraphRefinedLedger(s: SparkSession, dir: String,
      path: String, rounds: Int = 2, workK: Int = 2 * KG): DataFrame = {
    withLeaseRetry() { refreshKnnLedger(s, path, emb(s, dir)) }
    var g = s10Graph(s, path, None)
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
    (1 to rounds).foreach { _ =>
      g = nnDescentRound(s, dir, g, None, workK)
        .select("qid", "vec_id", "cosine")
    }
    topKAgg(g, KG, ordered = false)
  }

  /** One NN-descent round over the corpus graph from `source`,
    * reported in the driver shape — s11 (rebuild) and s11l (ledger)
    * share this body; only the graph source and tap name differ.
    */
  private[graft] def descentOver(s: SparkSession, dir: String,
      source: KnnGraphSource, tap: String): DataFrame = {
    val base = knnGraph(s, dir, None, source)
      .select(col("qid"), col("neighbor_id").as("vec_id"),
        col("cosine"))
    nnDescentRound(s, dir, base, Some(tap))
      .select(col("qid"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy("qid", "rank")
  }

  private val s11 = QueryDef(
    "s11_knn_descent",
    (s, dir) => descentOver(s, dir, RebuildGraph, "s11_cand"),
    Some(s"""WITH ${knnGraphCtes("s11_cand")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin))

  // The ledger-sourced twin (the d8/d8i discipline): identical descent
  // round, base graph READ from the maintained s10 ledger instead of
  // rebuilt — the production daily path (the rebuild's n^1.5 candidate
  // compute happens at most once, at an absent-ledger bootstrap). Its
  // own tap carries base ∪ novel ids, so DuckDB cross-checks cosines,
  // the expansion's disjointness, and the merge exactly as for s11.
  private val s11l = QueryDef(
    "s11l_knn_descent_ledger",
    (s, dir) => descentOver(s, dir, LedgerGraph(s10LedgerPath(dir)),
      "s11l_cand"),
    Some(s"""WITH ${knnGraphCtes("s11l_cand")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin))

  // --------------------------------------------------------------- S12
  // PREDICATE-FILTERED ANN (r18): top-k neighbors per query SUBJECT TO
  // a metadata predicate on the 1:1 documents join — the retrieval
  // mode a RAG/curation user actually runs ("nearest English docs",
  // "same source family", "after this date"). s1–s8 rank the whole
  // corpus; here the predicate must not cost a corpus pass of its own:
  //   - candidates come from the PERSISTED s8 IVF ledger's pruned
  //     probe (nprobe/cells of the index's bytes, the s8 plan);
  //   - the predicate lands as a PUSHED FILTER on the documents scan
  //     (PushedFilters, plan-gated — never a post-join filter over
  //     scored rows), and the request-bounded candidate set BROADCASTS
  //     into that scan: predicate application is scan-speed with zero
  //     shuffle at any corpus size;
  //   - only predicate-surviving candidates pay the exact-cosine
  //     re-rank into the bounded heap.
  // Oracle: the s2/s3 two-stage tap one step further — the tap carries
  // the PRE-predicate candidates (qid, vec_id, qe, embedding), and
  // DuckDB re-applies the predicate from the documents table, then
  // re-scores and re-ranks: the predicate join, the cosines, and the
  // top-k are all cross-checked above the tap. Recall vs the
  // predicate-filtered exact brute force is floored in AnnRecallSpec
  // (the filtered corpus is SMALLER than the index's, so the same
  // probe budget covers more of it — recall ≥ the unfiltered s3/s8
  // floor by construction of the candidate set).
  private[graft] val s12Lang = "en"
  private val s12 = QueryDef(
    "s12_ann_filtered",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s8LedgerPath(dir)
      // ensure-exists, read-path contract (bounded lease retry)
      withLeaseRetry() { refreshIvfLedger(s, path, e) }
      val cand = graft.sources.VerifyTap(
        s8Probe(s, path, e.filter(col("vec_id") < NQ)), "s12_cand",
        coalesce = false)
      val allowed = Tables.load(s, dir, "documents")
        .filter(col("lang") === s12Lang)
        .select(col("doc_id").as("vec_id"))
      val scored = allowed.join(broadcast(cand), Seq("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s12_cand/*.parquet')
       |), allowed AS (
       |  SELECT doc_id FROM documents WHERE lang = '$s12Lang'
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand JOIN allowed ON allowed.doc_id = cand.vec_id
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // S13 — tombstone-aware retrieval over the SHARED persisted s8
  // ledger (machinery + rationale at the tombstone section above
  // [[s8Candidates]]): a deterministic takedown set (vec_id ≡ 3 mod
  // [[s13Mod]] — the t6/q42 deterministic-split shape) lands as
  // committed tombstone segments, and the daily query excludes it by
  // anti-joining the broadcast tombstone set ABOVE the probe — the
  // index is untouched (physical removal rides the next compaction).
  // s8/s12 share this ledger and ignore tombs by design: honoring
  // deletes is the READER's contract, which is exactly why the oracle
  // must bite — the tap carries the PRE-exclusion candidates and
  // DuckDB re-derives the takedown set and the exclusion itself, so a
  // leaked tombstoned neighbor hash-fails. Spec: tombstoned ids never
  // surface, replay appends nothing, torn tomb segs invisible,
  // compaction purges physically and equals the excluded read.
  private[graft] val s13Mod = 13L
  private val s13 = QueryDef(
    "s13_ann_tombstoned",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s8LedgerPath(dir)
      withLeaseRetry() { refreshIvfLedger(s, path, e) }
      withLeaseRetry() { tombstoneIds(s, path,
        e.filter(pmod(col("vec_id"), lit(s13Mod)) === 3)
          .select("vec_id")) }
      val cand = graft.sources.VerifyTap(
        s8Probe(s, path, e.filter(col("vec_id") < NQ)), "s13_cand",
        coalesce = false)
      val scored = cand
        .join(broadcast(s8Tombs(s, path)), Seq("vec_id"), "left_anti")
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      topKAgg(scored)
    },
    Some(s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s13_cand/*.parquet')
       |  WHERE vec_id % $s13Mod <> 3
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // --------------------------------------------------------------- S14
  // TOMBSTONES for the kNN-GRAPH ledger — s13's takedown path one
  // level up (r18 verdict #2): a removed vector must vanish from the
  // maintained graph TWICE — as a query vertex AND as a neighbor
  // inside other vectors' top-KG lists — and, unlike the retrieval
  // index, a graph purge DAMAGES the survivors: every vertex that held
  // the removed id now has < KG edges (recall decay) until repaired.
  // Machinery: the tombstone log is [[tombstoneIds]] verbatim (the
  // s8/s10 ledgers are one [[graft.state.SegmentLedger]] layout, so
  // the writer is path-generic); the merged read [[s10Graph]]
  // anti-joins the broadcast tombstone set on BOTH columns below the
  // heap — lower-ranked alive candidates backfill from the union
  // immediately — and every seam consumer (d15l/s11l/p4,
  // knnGraphRefinedLedger) honors deletes through that one read.
  // PHYSICAL removal + repair ride [[compactKnnLedger]]: assign/
  // probes/ids purge their tombstoned rows, and the edge fold runs
  // ONE descent round restricted to the AFFECTED vertices
  // ([[repairedEdges]] — O(affected·(2KG)²), F21's machinery, never
  // O(n)) so decayed neighborhoods refill before the tombstone log is
  // cleared. Oracle: the s13 pre-exclusion tap pattern — the tap
  // carries the PRE-exclusion edge union and DuckDB re-derives the
  // takedown set (vec_id ≡ 3 mod [[s13Mod]]), the two-sided
  // exclusion, the cosines, and the re-rank, so a leaked takedown
  // hash-fails on either side. Own ledger path (tombstoning the
  // shared s10 ledger would change every other graph consumer's
  // driver-run output under their exclusion-blind oracles).
  private[graft] def s14LedgerPath(dir: String): String = StatePath(dir, "s14_knn", "_p3")

  private val s14 = QueryDef(
    "s14_knn_tombstoned",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s14LedgerPath(dir)
      // day 1 bootstrap + day 2 batch (the s10 shape), then a takedown
      withLeaseRetry() { refreshKnnLedger(s, path,
        e.filter(pmod(col("vec_id"), lit(8)) =!= 5)) }
      withLeaseRetry() { refreshKnnLedger(s, path, e) }
      withLeaseRetry() { tombstoneIds(s, path,
        e.filter(pmod(col("vec_id"), lit(s13Mod)) === 3)
          .select("vec_id")) }
      s10Graph(s, path, Some("s14_cand")).orderBy("qid", "rank")
    },
    Some(s"""WITH ${knnGraphCtes("s14_cand",
        s"WHERE qid % $s13Mod <> 3 AND vec_id % $s13Mod <> 3")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin))

  private[graft] def s15LedgerPath(dir: String): String = StatePath(dir, "s15_knn", "_p3")

  // --------------------------------------------------------------- S15q
  // The retrain migration DRIVER-ORACLED (r20, the r19 verdict #3
  // stretch): a standing graph ledger takes a takedown, RETRAINS
  // (cells re-keyed to the alive corpus, tombstones applied and
  // cleared, one-rename flip), and the post-migration graph read is
  // hash-verified against the s14-style tap oracle — proving the
  // retrained ledger IS the from-scratch alive graph, cross-engine,
  // not just spec-asserted. The migration runs ONCE (marker-gated:
  // `__retrain_done` inside the ledger dir, created after the flip);
  // re-runs take the steady-state arm — a novel-only refresh over the
  // alive corpus (no-op: the retrained ledger already holds it) + the
  // read, so the end state is run-invariant and the bench pays
  // maintenance, not a migration per execution. A crash before the
  // marker re-runs the whole migration branch — expensive but
  // idempotent (re-appended reclaimed vectors are re-tombstoned and
  // re-purged to the same end state).
  private val s15q = QueryDef(
    "s15_retrained_graph",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s15LedgerPath(dir)
      val alive = e.filter(pmod(col("vec_id"), lit(17L)) =!= 5L)
      val fs = fsOf(s, path)
      val marker = hPath(s"$path/__retrain_done")
      if (!fs.exists(marker)) {
        // day 1 + day 2 over the FULL corpus (the s10 shape), then a
        // reclaim lands and the scheduled retrain migrates the ledger
        withLeaseRetry() { refreshKnnLedger(s, path,
          e.filter(pmod(col("vec_id"), lit(8)) =!= 5)) }
        withLeaseRetry() { refreshKnnLedger(s, path, e) }
        withLeaseRetry() { tombstoneIds(s, path,
          e.filter(pmod(col("vec_id"), lit(17L)) === 5L)
            .select("vec_id")) }
        retrainKnnLedger(s, path)
        fs.create(marker, true).close()
      } else
        withLeaseRetry() { refreshKnnLedger(s, path, alive) }
      s10Graph(s, path, Some("s15_cand")).orderBy("qid", "rank")
    },
    Some(s"""WITH ${knnGraphCtes("s15_cand",
        "WHERE qid % 17 <> 5 AND vec_id % 17 <> 5")}
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM granked ORDER BY qid, rank""".stripMargin))

  private[graft] def s15iLedgerPath(dir: String): String =
    StatePath(dir, "s15i_ivf", "_p4")

  // s15q's IVF sibling (r20): the retrieval index takes the same
  // takedown, retrains through `retrainIvfLedger` (cells re-keyed,
  // tombstones applied + cleared, one-rename flip — marker-gated to
  // run ONCE, steady-state re-runs are a novel-empty refresh + the
  // probe), and the post-migration probe is hash-verified by the s13
  // two-stage oracle: DuckDB exactly re-ranks the tapped nominations
  // and its `vec_id % 17 <> 5` guard proves no reclaimed vector leaks
  // out of the retrained index. No anti-join on the Spark side — the
  // retrain REMOVED the rows, which is the property under test.
  private val s15i = QueryDef(
    "s15i_retrained_ivf",
    (s, dir) => {
      val e = emb(s, dir)
      val path = s15iLedgerPath(dir)
      val fs = fsOf(s, path)
      val marker = hPath(s"$path/__retrain_done")
      if (!fs.exists(marker)) {
        withLeaseRetry() { refreshIvfLedger(s, path,
          e.filter(pmod(col("vec_id"), lit(8)) =!= 5)) }
        withLeaseRetry() { refreshIvfLedger(s, path, e) }
        withLeaseRetry() { tombstoneIds(s, path,
          e.filter(pmod(col("vec_id"), lit(17L)) === 5L)
            .select("vec_id")) }
        retrainIvfLedger(s, path)
        fs.create(marker, true).close()
      } else
        withLeaseRetry() { refreshIvfLedger(s, path,
          e.filter(pmod(col("vec_id"), lit(17L)) =!= 5L)) }
      val cand = graft.sources.VerifyTap(
        s8Probe(s, path, e.filter(col("vec_id") < NQ)), "s15i_cand",
        coalesce = false)
      topKAgg(cand
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine"))
    },
    Some(s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/s15i_cand/*.parquet')
       |  WHERE vec_id % 17 <> 5
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |), ranked AS (
       |  SELECT qid, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank,
       |    cosine
       |  FROM scored
       |)
       |SELECT qid, rank, vec_id AS neighbor_id, cosine
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin))

  // --------------------------------------------------------------- T25
  // (machinery for TextOps' t25_embedding_decontam — the family file
  // owns the QueryDef; the LSH internals live here with s2/s7.)
  //
  // EMBEDDING-SPACE DECONTAMINATION: t6/t20 catch verbatim and fuzzy
  // n-gram leakage; paraphrased leakage needs the semantic complement —
  // every corpus document within cosine radius [[decontamR]] of ANY
  // eval-suite embedding, reported as (doc_id, eval_id, cosine). The
  // t6/t20 asymmetry applied to embeddings: the eval suite (holdout
  // vec_id % [[decontamMod]] = 0, t6's deterministic split shape) is
  // suite-sized and BROADCASTS through s7's occupancy-keyed LSH range
  // machinery; the corpus side streams — bounded candidates per eval
  // vector at any corpus size, a pure map-side radius filter above
  // them (no per-query aggregation at all). [[decontamR]] = 0.3 is
  // this synthetic corpus's weak-similarity regime (max eval-corpus
  // cosine ≈ 0.47; s7's collision-curve note: recall ≈ 0.4 here vs
  // ≈ 0.96 at a production r = 0.9); soundness — every flagged pair
  // truly clears r on exact cosines — is spec-asserted, and the tap
  // oracle re-scores every candidate.
  private[graft] val decontamR = 0.3
  private[graft] val decontamMod = 97
  private[graft] def decontamPairs(s: SparkSession, dir: String,
      tap: String): DataFrame =
    lshCandidatesOver(s, dir, tap,
      pmod(col("vec_id"), lit(decontamMod)) === 0,
      pmod(col("vec_id"), lit(decontamMod)) =!= 0)
      .withColumn("cosine", cosine(col("qe"), col("embedding")))
      .filter(col("cosine") >= decontamR)
      .select(col("vec_id").as("doc_id"), col("qid").as("eval_id"),
        col("cosine"))

  override val queries: Seq[QueryDef] =
    Seq(s1, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s11l, s12, s13,
      s14, s15q, s15i)
}
