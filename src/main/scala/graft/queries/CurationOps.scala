package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Tables

/** Cluster-balanced corpus curation — the mixture family (t8/t16/t22)
  * keyed by SEMANTIC CLUSTER instead of by `source`. Modern curation
  * (SemDeDup / DoReMi-adjacent) balances what the corpus is *about*,
  * not where it came from: per-cluster quotas flatten topic skew the
  * same way t16's temperature flattens source skew.
  *
  * Each mixture ships as a TWIN PAIR (the d15/d15l discipline): the
  * self-contained arm TRAINS the coarse quantizer per run (its tapped
  * centroids give the strongest oracle — DuckDB re-derives the entire
  * assignment bit-exactly), while the `*l` ledger arm reads the STORED
  * s8 quantizer through [[SimilarityOps.quantizerCentroids]] — the
  * production daily shape: a curation run balances by the clusters the
  * pipeline MAINTAINS, and pays no per-run Lloyd constant (r17
  * verdict: that constant was c1/c2's whole gap vs their DuckDB rows).
  * Twin ≡ retrain on a fresh same-corpus-bootstrapped ledger is
  * spec-gated (deterministic training + fixed-centroid assignment —
  * the s8 contract); both arms are driver-oracled from their own taps.
  *
  * Reference scope: the reference engine has no clustering surface at
  * all (lib/Database/Migrator/Core.pm is a DDL migration runner); this
  * family is part of the assignment's LLM-pipeline surface.
  */
object CurationOps extends QueryGroup {

  // target sampled corpus size (driver SFs carry 500–5000 vectors)
  private[queries] val clusterMixT = 100L

  // ---------------------------------------------------------------- C1
  // Cluster-balanced mixture: assign every vector to its nearest
  // coarse-quantizer centroid, then fill per-CLUSTER quotas
  // quota_c = max(1, ⌊T·w_c⌋), w_c = √n_c / Σ√n_c (α = 0.5
  // temperature over cluster occupancy), deterministically by
  // ascending vec_id through the grouped range rank.
  //
  // Scale shape: the centroid table is cells-bounded and BROADCAST
  // everywhere it appears; assignment is one corpus scan + the native
  // fixed-width ArgMaxId partial-agg argmax (HashAggregateExec —
  // map-side combine ships ≤ 1 slim (vec_id, cid) row per vector per
  // partition, never an n×cells window, and r18's fixed-width buffer
  // keeps it off the SortAggregate path that sorted the whole scored
  // cross join); the quota table is cells-bounded and broadcast back
  // onto the rank. The only corpus-sized shuffles are the assignment
  // argmax and the grouped range rank over the narrow (cid, vec_id)
  // projection — both unavoidable for the semantics, both
  // partial-agg/range-partition friendly at 100 TB. Plan-gated in
  // PlanSpec (broadcasts + no window wall + hash-agg argmax).
  //
  // Oracle: the s3 pattern inverted — the CENTROIDS ride a VerifyTap
  // (cells-bounded, the only stage DuckDB cannot re-derive is the
  // Lloyd training), and DuckDB recomputes the ENTIRE assignment from
  // the tapped centroid table with the s1-discipline left-to-right
  // cosine fold (bit-exact cross-engine, so the argmax decisions are
  // identical), then re-derives stats, quotas, ranks, and the selected
  // set from scratch.
  /** The c1 mixture above a (tapped) centroid table — c1 (retrain) and
    * c1l (stored quantizer) share this body.
    */
  private def clusterMixture(s: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val assign = SimilarityOps.assignCids(e, cents)
    val quotas = TextOps.sqrtShares(assign, "cid", count(lit(1)), "n_cid")
      .withColumn("quota", greatest(lit(1L),
        floor(lit(clusterMixT.toDouble) * col("weight")).cast(LongType)))
    val ranked = graft.operators.GlobalOrder.withGroupedRank(
      assign, Seq("cid"), Seq(col("vec_id")), "rn")
    ranked.join(broadcast(quotas), "cid")
      .filter(col("rn") <= col("quota"))
      .select(col("cid"), col("vec_id"), col("rn"),
        col("n_cid"), col("weight"), col("quota"))
      .orderBy("cid", "vec_id")
  }

  /** Tapped per-run-trained centroids (c1/c2's arm). */
  private def trainedCents(s: SparkSession, dir: String,
      tap: String): DataFrame =
    graft.sources.VerifyTap(
      SimilarityOps.quantizerCentroids(s, dir,
        SimilarityOps.TrainQuantizer), tap)

  /** Tapped stored-s8-quantizer centroids (c1l/c2l's arm). */
  private def storedCents(s: SparkSession, dir: String,
      tap: String): DataFrame =
    graft.sources.VerifyTap(
      SimilarityOps.quantizerCentroids(s, dir,
        SimilarityOps.StoredQuantizer(SimilarityOps.s8LedgerPath(dir))),
      tap)

  /** The tapped-centroid assignment CTE block (cents → `{p}scored` →
    * `{p}assign`). `p` prefixes the inner names so composers (p4)
    * can chain it next to CTE blocks that already bind `scored`;
    * the default keeps c1/c2's oracle strings byte-identical.
    */
  private[queries] def centsCte(tap: String, p: String = ""): String =
    s"""cents AS (
       |  SELECT cid, cv
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/$tap/*.parquet')
       |), ${p}scored AS (
       |  SELECT e.vec_id, c.cid,
       |    list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(cv[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(cv[i]::DOUBLE)*(cv[i]::DOUBLE) for i in range(1, len(cv)+1)]), (x,y) -> x+y)) ) AS sim
       |  FROM embeddings e CROSS JOIN cents c
       |), ${p}assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |                         ORDER BY sim DESC, cid) AS r
       |    FROM ${p}scored) t WHERE r = 1
       |)""".stripMargin

  private def c1Oracle(tap: String): String =
    s"""WITH ${centsCte(tap)}, stats AS (
       |  SELECT cid, COUNT(*) AS n_cid,
       |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM assign GROUP BY cid
       |), quotas AS (
       |  SELECT cid, CAST(n_cid AS BIGINT) AS n_cid,
       |    CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE) AS weight,
       |    GREATEST(1, CAST(FLOOR($clusterMixT *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS quota
       |  FROM stats
       |), ranked AS (
       |  SELECT cid, vec_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id)
       |      AS BIGINT) AS rn
       |  FROM assign
       |)
       |SELECT r.cid, r.vec_id, r.rn, q.n_cid, q.weight, q.quota
       |FROM ranked r JOIN quotas q USING (cid)
       |WHERE r.rn <= q.quota
       |ORDER BY cid, vec_id""".stripMargin

  private val c1 = QueryDef(
    "c1_cluster_mixture",
    (s, dir) => clusterMixture(s, dir, trainedCents(s, dir, "c1_cents")),
    Some(c1Oracle("c1_cents")))

  // The ledger-sourced twin: identical mixture, centroids READ from
  // the maintained s8 IVF ledger — no per-run Lloyd training (the
  // production daily shape and the r17-verdict perf fix). Oracle
  // identical in structure: its own tap carries the ACTUAL stored
  // centroids, so DuckDB re-derives the full assignment and fill from
  // them — hash-green under any ledger history (the d15l argument);
  // exact twin ≡ retrain equality is asserted where it is defined,
  // against a fresh same-corpus-bootstrapped ledger (CurationSpec).
  private val c1l = QueryDef(
    "c1l_cluster_mixture_ledger",
    (s, dir) => clusterMixture(s, dir, storedCents(s, dir, "c1l_cents")),
    Some(c1Oracle("c1l_cents")))

  // ---------------------------------------------------------------- C2
  // Cluster-balanced TOKEN budget — c1's quota fill measured in TOKENS
  // (t22's budget semantics keyed by semantic cluster): what a
  // curation run actually allocates is a token budget per topic, not a
  // document count. Assignment is c1's (same tapped-centroid oracle
  // pattern, own tap); token counts ride the 1:1 doc_id = vec_id
  // alignment of the documents/embeddings tables; the fill is the
  // shared tokenBudgetSelect keyed by cid — budget_c = max(1,
  // ⌊T_tok·w_c⌋), w_c = √tok_c / Σ√tok_c, greedy doc_id prefix per
  // cluster. Same scale shape as c1 + t22: cells-bounded broadcasts,
  // the hash-agg assignment argmax, the narrow (cid, doc_id, n_tok)
  // prefix sum.
  /** The c2 token-budget fill above a (tapped) centroid table — c2
    * (retrain) and c2l (stored quantizer) share this body.
    */
  private def clusterTokenBudget(s: SparkSession, dir: String,
      cents: DataFrame): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val assign = SimilarityOps.assignCids(e, cents)
      .select(col("vec_id").as("doc_id"), col("cid"))
    val toks = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("n_tok"))
    TextOps.tokenBudgetSelect(assign.join(toks, "doc_id")
        .select(col("cid"), col("doc_id"), col("n_tok")), "cid")
      .orderBy("cid", "doc_id")
  }

  private def c2Oracle(tap: String): String =
    s"""WITH ${centsCte(tap)}, d AS (
       |  SELECT a.cid, a.vec_id AS doc_id,
       |    CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_tok
       |  FROM assign a JOIN documents doc ON doc.doc_id = a.vec_id
       |), stats AS (
       |  SELECT cid, SUM(n_tok) AS tok_src,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM d GROUP BY cid
       |), budgets AS (
       |  SELECT cid,
       |    GREATEST(1, CAST(FLOOR(${TextOps.mixTokT} *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS budget
       |  FROM stats
       |), c AS (
       |  SELECT cid, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY cid ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM d
       |)
       |SELECT c.cid, c.doc_id, c.n_tok, c.cum_tok, b.budget
       |FROM c JOIN budgets b USING (cid)
       |WHERE c.cum_tok - c.n_tok < b.budget
       |ORDER BY cid, doc_id""".stripMargin

  private val c2 = QueryDef(
    "c2_cluster_token_budget",
    (s, dir) => clusterTokenBudget(s, dir,
      trainedCents(s, dir, "c2_cents")),
    Some(c2Oracle("c2_cents")))

  // c2's ledger-sourced twin — see c1l's header.
  private val c2l = QueryDef(
    "c2l_cluster_token_budget_ledger",
    (s, dir) => clusterTokenBudget(s, dir,
      storedCents(s, dir, "c2l_cents")),
    Some(c2Oracle("c2l_cents")))

  /** Spec seam: the shared bodies above fixed centroid frames, so
    * CurationSpec can prove twin ≡ retrain on a fresh ledger without
    * going through the taps.
    */
  private[queries] def mixtureOver(s: SparkSession, dir: String,
      cents: DataFrame): DataFrame = clusterMixture(s, dir, cents)
  private[queries] def tokenBudgetOver(s: SparkSession, dir: String,
      cents: DataFrame): DataFrame = clusterTokenBudget(s, dir, cents)

  // ---------------------------------------------------------------- C3
  // LEAKAGE-FREE holdout split: t10 splits documents by a hash of the
  // DOC key — but near-duplicates then straddle train/test, and a
  // model that memorizes a training copy aces its test twin (the
  // contamination channel dedup papers flag INSIDE a corpus, distinct
  // from t6/t20/t25's external-benchmark decontamination). The fix is
  // splitting by NEAR-DUP CLUSTER: d6's Jaccard pair graph + connected
  // components labels every doc with its cluster (min doc_id), and the
  // t10 hash rule is applied to the CLUSTER LABEL — every near-dup
  // family lands on ONE side by construction. Same reproducibility
  // discipline as t10/q42 (md5 of a stable key — same split at any
  // parallelism, on any engine, every rerun). Scale: pair generation
  // is d2's prefix-filtered candidate join (never all-pairs), CC is
  // O(log diameter) rounds, and the split itself is a map-side
  // projection over the cluster label — nothing beyond d6's cost.
  // Oracle: d6's recursive-CTE clustering with the split CASE on top,
  // so the pair graph, the components AND the assignment are all
  // hash-verified.
  private val c3 = QueryDef(
    "c3_leakage_split",
    (s, dir) => {
      val edges = DedupOps.jaccardPairs(s, dir)
        .select(col("i").as("src"), col("j").as("dst"))
      val nodes = Tables.load(s, dir, "documents")
        .select(col("doc_id").as("id"))
      val clustered = graft.operators.ConnectedComponents
        .run(nodes, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
      val bucket = substring(
        md5(col("cluster").cast("string").cast("binary")), 1, 2)
      clustered.select(col("doc_id"), col("cluster"),
          when(bucket < "e6", "train") // 230/256 ≈ 89.8%
            .when(bucket < "f3", "val") // 13/256 ≈ 5.1%
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.pairCtes},
       |good AS (
       |  SELECT i, j FROM pairs
       |  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= ${DedupOps.jaccardT}
       |),
       |edges AS (SELECT i AS a, j AS b FROM good
       |          UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |),
       |clustered AS (
       |  SELECT node AS doc_id, MIN(lab) AS cluster
       |  FROM reach GROUP BY node
       |)
       |SELECT doc_id, cluster,
       |  CASE WHEN substr(md5(cluster::VARCHAR), 1, 2) < 'e6' THEN 'train'
       |       WHEN substr(md5(cluster::VARCHAR), 1, 2) < 'f3' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM clustered ORDER BY doc_id""".stripMargin))

  override val queries: Seq[QueryDef] = Seq(c1, c1l, c2, c2l, c3)
}
