package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.TestSpark

/** Plan audits (SURVEY §6): the properties that make these plans hold at
  * 100 TB — pushdown reaching the scan, narrow read schemas, broadcast
  * joins where a side is dim-sized, partial aggregation, whole-stage
  * codegen, and no accidental cartesian joins on the dedup path.
  */
class PlanSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  /** Every parquet scan node in the plan, through the AQE wrapper and
    * into subqueries — scan-node inspection instead of plan-string
    * matching where the claim is about a path (the printed Location
    * truncates at 100 chars) or a filter that must sit on a SPECIFIC
    * scan.
    */
  private def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def scanRoots(
      f: org.apache.spark.sql.execution.FileSourceScanExec): Seq[String] =
    f.relation.location.rootPaths.map(_.toString)

  test("q2: filter + projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    p should include("PushedFilters: [IsNotNull(l_shipdate)")
    p should include("GreaterThanOrEqual(l_shipdate")
    // narrow read: only referenced columns in ReadSchema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    readSchema should include("l_orderkey")
    readSchema should not include "l_comment"
    readSchema should not include "l_partkey"
  }

  test("q1: aggregation is two-phase (map-side partial) and codegen'd") {
    val p = plan("q1_agg")
    p.linesIterator.count(_.contains("HashAggregate")) should be >= 2
    p should include("partial_sum")
    val codegen = SparkEntry.queries("q1_agg")(spark, TestSpark.sfDir)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    codegen should include("WholeStageCodegen")
  }

  test("q3/q4: dim joins broadcast") {
    plan("q3_join_broadcast") should include("BroadcastHashJoin")
    plan("q4_star_join") should include("BroadcastHashJoin")
  }

  test("d2: candidate generation is an equi-join, not a cross join") {
    val p = plan("d2_dedup_ngram_jaccard")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("s1: query side broadcasts; scan side stays streamed") {
    val p = plan("s1_ann_bruteforce")
    p should include("BroadcastNestedLoopJoin")
    p.linesIterator.count(_.contains("BroadcastExchange")) should be >= 1
  }

  test("t3/t4: text ops are single-scan, no shuffle beyond final agg") {
    val p3 = plan("t3_token_count")
    p3.linesIterator.count(_.contains("Exchange")) should be <= 2 // partial agg + order
    val p4 = plan("t4_fingerprint")
    p4.linesIterator.count(_.contains("Scan parquet")) shouldBe 1
  }

  test("d9: dedup plan reads the persisted ledger; batch filter is pushed") {
    val p = plan("d9_dedup_incremental")
    // the anti-join probes the ledger PARQUET, not a re-derivation
    p should include("graft_d9_ledger")
    // today's batch is the only documents scan, with the source pushed
    p should include("EqualTo(source,src0)")
    p.linesIterator.count(_.contains("Scan parquet")) shouldBe 2
    // runtime prefix pruning: the ledger scan carries the batch-derived
    // hash-prefix set as PARTITION filters — at a 100 TB corpus this is
    // what keeps a targeted re-ingest from re-scanning the whole ~32 GB
    // hash ledger (file listing AND bytes prune to the touched slices)
    val ledgerScan = p.linesIterator
      .find(l => l.contains("graft_d9_ledger")).get
    val pruned = ledgerScan.contains("PartitionFilters: [pfx#") &&
      (ledgerScan.contains(" IN ") || ledgerScan.contains("INSET"))
    withClue(ledgerScan) { pruned shouldBe true }
  }

  test("d13: near-dup ingest probes the persisted band index; the " +
      "corpus is never re-shingled") {
    val p = plan("d13_incremental_neardup")
    // the probe join reads the band-index PARQUET (stored shingle sets
    // + band keys), not a prior-corpus re-derivation...
    p should include("graft_d13_ledger")
    p.linesIterator.count(_.contains("graft_d13_ledger")) shouldBe 1
    // ...and EVERY documents scan is the BATCH (source pushed): daily
    // cost is O(batch) regardless of the standing corpus behind the
    // ledger. No scan count: the batch index sits behind nested
    // ScratchCache relations whose printed plans repeat their child
    // scan a cache-state-dependent number of times — the invariant is
    // that no documents read is ever UNfiltered (that would be the
    // corpus being re-shingled)
    p should include("EqualTo(source,src0)")
    p.linesIterator.filter(l => l.contains("Scan parquet") &&
        l.contains("documents"))
      .foreach(l => withClue(l) {
        l should include("EqualTo(source,src0)") })
  }

  test("s8: queries probe the persisted IVF ledger; the corpus is " +
      "never re-assigned or rescanned") {
    // gate the PRE-TAP candidate plan — the stage that touches storage
    // (the VerifyTap above it materializes candidates, so the query's
    // own post-tap plan shows only the tap read)
    val cand = graft.queries.SimilarityOps
      .s8Candidates(spark, TestSpark.sfDir)
    val p = cand.queryExecution.executedPlan.toString
    // the candidate join reads the stored assignments + centroids —
    // the ledger parquet, not an in-query re-derivation
    p should include("graft_s8_ivf")
    val scans = fileScans(cand)
    // every assignment-segment scan is PARTITION-PRUNED to the probed
    // cells (the _p2 layout's whole point: the daily query reads
    // nprobe/cells of the index's bytes, never the whole corpus-sized
    // index — the r13 `weak`)
    val segScans = scans.filter(
      scanRoots(_).exists(_.contains("/assign/seg=")))
    // bootstrap seg + day-2 append seg, read as one relation
    segScans.flatMap(scanRoots)
      .count(_.contains("/assign/seg=")) should be >= 2
    segScans.foreach { f =>
      withClue(f.toString) {
        f.partitionFilters.flatMap(_.references.toSeq.map(_.name))
          .toSet should contain("cid")
      }
    }
    // and the only embeddings read is the pushed NQ query filter
    p.linesIterator.filter(l => l.contains("Scan parquet") &&
        l.contains("embeddings"))
      .foreach(l => withClue(l) {
        l should include("LessThan(vec_id,8)") })
  }

  test("s8: maintenance novelty is decided against the slim id-only " +
      "sidecar, never the embedding-bearing index") {
    // the anti-join plan an append executes: batch ids vs committed
    // sidecar segs — no /assign/ read anywhere (the embedding bytes
    // dominate the index; maintenance must not pay them, nor the
    // partitioned tree's per-cell listing/footer tax)
    val path = graft.queries.SimilarityOps.s8LedgerPath(TestSpark.sfDir)
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val novel = e.join(
      graft.queries.SimilarityOps.s8Ids(spark, path),
      Seq("vec_id"), "left_anti")
    val roots = fileScans(novel).flatMap(scanRoots)
    roots.count(_.contains("/ids/seg=")) should be >= 2
    roots.filter(_.contains("graft_s8_ivf"))
      .foreach(r => withClue(r) { r should include("/ids/seg=") })
  }

  test("s9: corpus-sided probe selection is heap-agg'd with the " +
      "repartition reused as its distribution; no Window anywhere") {
    // With the tap-routed build (r18), the corpus-scale work lives in
    // the PRE-tap scored stage — gate that plan for the probe shape;
    // the reported query's own plan is the tap read + final heap.
    val p = SimilarityOps.knnGraphScored(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    // EVERY vector is a query here — a per-vector window would funnel
    // n·cells scored rows; the plan must rank via the bounded-heap
    // TopKAggregate instead (partial+final ObjectHashAggregate), and
    // the explicit repartition before the ×cells crossJoin must
    // double as the agg's required distribution (no Exchange BETWEEN
    // the partial and final agg of the probe selection).
    p should not include "Window"
    p should include("topk_by_score")
    p.linesIterator.count(
      _.contains("+- ObjectHashAggregate")) should be >= 2
    // probe pattern: final ObjectHashAggregate directly over partial
    // ObjectHashAggregate (the reused exchange) must appear somewhere
    val lines = p.linesIterator.map(_.trim).toSeq
    val fused = lines.sliding(2).exists(w =>
      w.head.contains("ObjectHashAggregate") &&
        w.last.contains("ObjectHashAggregate"))
    assert(fused, "expected a partial+final ObjectHashAggregate pair " +
      "with no Exchange between (the repartition-reuse shape)")
    // and the reported plan: heap over the tap read, single execution
    // of the build — no second candidate join above the tap
    val rp = plan("s9_knn_graph")
    rp should not include "Window"
    rp should include("topk_by_score")
    rp should include("graft_aux")
    rp should not include "BroadcastNestedLoopJoin"
  }

  test("t21: NB scoring joins the SPARSE observed-count model; argmax " +
      "plans as WindowGroupLimit, model frames stay agg+broadcast") {
    val p = plan("t21_quality_classifier")
    // the rank<=1 filter must short-circuit, not materialize a full
    // per-doc window frame
    p should include("WindowGroupLimit")
    // the model is vocabulary-bounded and broadcast to the scorer
    p should include("BroadcastExchange")
    // the per-(doc, class) decimal sums partial-agg before their
    // exchange
    p should include("partial_sum")
  }

  test("t8/p1: no per-source window wall; offsets join broadcasts") {
    // exact mixture sampling must NOT rank via row_number() OVER
    // (PARTITION BY source): ~10 sources ⇒ each source's whole corpus
    // share through one reducer. The GroupedRank plan shows no Window
    // at all, and the G-row per-source (first, count) table joins back
    // as a broadcast.
    Seq("t8_mixture_sample", "p1_training_corpus").foreach { name =>
      withClue(name) {
        val p = plan(name)
        p should not include "Window"
        p should include("BroadcastHashJoin")
      }
    }
  }

  test("c1: centroid + quota tables broadcast; assignment is a " +
      "partial-agg argmax, no per-vector window; no cartesian") {
    // the cluster-balanced mixture's scale contract: the cells-bounded
    // centroid and quota tables ride BroadcastExchange (never shuffle
    // the corpus against them), the per-vector argmax plans as the
    // native fixed-width ArgMaxId partial aggregate in a
    // HASHAggregate pair (a window here would shuffle all n×cells
    // scored rows into per-vector reducers; the earlier struct-buffer
    // max_by planned a SortAggregate whose partial side sorted the
    // whole scored cross join — the r17 verdict's watch), and the
    // grouped range rank keeps the no-Window discipline. The only
    // corpus-sized exchanges are the assignment argmax and the rank
    // over the narrow (cid, vec_id) projection.
    Seq("c1_cluster_mixture", "c2_cluster_token_budget",
      "c1l_cluster_mixture_ledger",
      "c2l_cluster_token_budget_ledger").foreach { name =>
      withClue(name) {
        val p = plan(name)
        p should not include "Window"
        p should not include "CartesianProduct"
        p should not include "SortAggregate"
        p.linesIterator.count(_.contains("BroadcastExchange")) should be >= 2
        p should include("argmax_id_by_score")
        p.linesIterator
          .count(_.contains("partial_argmax_id_by_score")) should be >= 1
      }
    }
  }

  test("s12: the metadata predicate lands as a PUSHED FILTER on the " +
      "documents scan; candidates broadcast into it — no post-join " +
      "predicate, no shuffle for the filter") {
    val df = SparkEntry.queries("s12_ann_filtered")(spark, TestSpark.sfDir)
    val docScans = fileScans(df).filter(f =>
      scanRoots(f).exists(_.contains("documents.parquet")))
    docScans should not be empty
    // the lang predicate reaches parquet (row-group pruning at scale),
    // and the scan reads ONLY doc_id + lang — never text
    docScans.foreach { f =>
      withClue(f.toString) {
        f.metadata("PushedFilters") should include("EqualTo(lang,")
        f.metadata("ReadSchema") should not include "text"
      }
    }
    val p = df.queryExecution.executedPlan.toString
    // the request-bounded candidate set is the BUILD side of a
    // broadcast join against the streamed docs scan — the predicate
    // costs zero shuffles at any corpus size
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "Window"
  }

  test("t26: shard shuffle ranks via GroupedRank — no per-shard " +
      "window wall; the 8-row shard-offset table broadcasts") {
    // the export shuffle's scale contract: position-within-shard must
    // come from the two-job range rank, never row_number() OVER
    // (PARTITION BY shard) — 8 shards ⇒ each shard's full corpus
    // through one reducer at 100 TB.
    val p = plan("t26_shard_shuffle")
    p should not include "Window"
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("p4: the embedding-native chain's budget fill keeps the " +
      "no-Window discipline above the output-sized pin") {
    // the tail above p4's localCheckpoint pin (budget stats, prefix
    // sum, quota join) must stay broadcast + range-rank shaped — the
    // c2/t22 contract; the pinned upstream stages carry their own
    // gates (d15l's pruned ledger read, c1's hash-agg argmax).
    val p = plan("p4_training_corpus_v4")
    p should not include "Window"
    p should not include "CartesianProduct"
    p.linesIterator.count(_.contains("BroadcastExchange")) should be >= 2
  }

  test("q5/q7/q36: few-group rankings avoid the per-group window too") {
    // the same wall at relational scale: rank/top-k/lag partitioned by
    // a handful of values (5 segments, 5 priorities, ~10 sources).
    // q5/q7 plan through the TopKByScore partial aggregate (the plan
    // shows a partial+final HashAggregate pair, i.e. "partial_topk"),
    // q36 through the grouped range rank + rank−1 self-join — no
    // Window operator anywhere.
    Seq("q5_window_rank", "q7_topk_per_group", "t5_vocab_topk")
      .foreach { name =>
        withClue(name) {
          plan(name) should not include "Window"
        }
      }
    plan("q5_window_rank") should include("topk_by_score")
    plan("q7_topk_per_group") should include("topk_by_score")
    plan("t5_vocab_topk") should include("topk_by_score")
  }

  test("q36: large-corpus pairing plans rank self-join, no Window") {
    // q36's pairing is size-keyed (pairsAuto pattern): at driver SFs it
    // takes the lag window, at >= pairLargeMinDocs the grouped range
    // rank. The large arm — the one that must survive 100 TB — shows no
    // Window operator anywhere.
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val largePlan = Analytic.adjacentPairs(docs, large = true)
      .queryExecution.executedPlan.toString
    largePlan should not include "Window"
  }

  test("t13: large-corpus arm routes the ctx probe through the salt") {
    // t13's probe is size-keyed (the q36 pattern): at driver SFs the
    // plain ctx join, at >= lmSaltMinDocs the salted arm (Zipfian
    // hot-context armor, result-equal by TextPipelineSpec). The large
    // arm — the one that must survive a web-scale corpus — must show
    // the salt key in the join, and the small arm must not.
    val d = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val pos = TextOps.lmPositions(d)
    val vocab = TextOps.lmVocab(d)
    def planOf(salt: Int): String =
      TextOps.lmScoreFromPositions(pos, vocab, salt)
        .queryExecution.executedPlan.toString
    planOf(TextOps.lmSaltBuckets) should include("__salt")
    planOf(0) should not include "__salt"
  }

  test("d11: span excision is equi-join + partial aggs over 3 scans") {
    val p = plan("d11_span_dedup")
    // gram stats, excise marks and the rebuild each read the corpus
    // once; the single doc-grain aggregate keeps it at exactly 3
    p.linesIterator.count(_.contains("Scan parquet")) shouldBe 3
    p should not include "Window"
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("every declared query builds and stays lazy (no driver collect)") {
    SparkEntry.queries.keys.foreach { name =>
      noException should be thrownBy
        SparkEntry.queries(name)(spark, TestSpark.sfDir).queryExecution
          .analyzed
    }
  }

  test("no query plans an unbounded CartesianProduct") {
    // broadcast nested-loop against a dim-sized side is fine (s1/d5);
    // a CartesianProduct of two streamed sides is never acceptable
    SparkEntry.queries.keys.foreach { name =>
      withClue(name) {
        // d6 runs an iterative driver loop on construction; its plan
        // pieces are audited via d2 (shared pair pipeline)
        if (name != "d6_dedup_clusters") {
          val p = SparkEntry.queries(name)(spark, TestSpark.sfDir)
            .queryExecution.executedPlan.toString
          p should not include "CartesianProduct"
        }
      }
    }
  }
}
