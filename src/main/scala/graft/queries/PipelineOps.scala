package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The composed training-data pipeline (P1): what a user actually runs
  * before a training job — every stage is one of the already-verified
  * operators, composed as a SINGLE lazy DataFrame plan:
  *
  *   near-dup collapse (d7 keepers) → benchmark holdout + 4-gram
  *   decontamination (t6) → quality filter (t2's keep rule) → exact
  *   per-source mixture sampling (t8)
  *
  * Because the whole pipeline is one plan, Catalyst sees it whole:
  * stage filters combine and push toward the scans, the holdout/quality
  * predicates prune before any join, and the only corpus-wide shuffles
  * are the ones each stage needs anyway (dedup's prefix join, the final
  * per-source range rank — GlobalOrder.withGroupedRank, no per-source
  * window wall). The DuckDB oracle chains the SAME stage CTEs, so the
  * end-to-end composition — not just each stage — is hash-verified.
  */
object PipelineOps extends QueryGroup {

  /** Await every future, rethrowing the FIRST failure only after ALL
    * settle (the p6 rule, ADVICE r21: a failed stage must not leave
    * sibling jobs running in the background where they race the caller
    * — or the bench harness's `clear()` — mid-write), with every other
    * failure attached to it as suppressed (ADVICE r22: no failed stage
    * goes unreported). Values are read off the completed futures by
    * the caller.
    */
  private[graft] def settleAll(fs: Seq[scala.concurrent.Future[_]])(
      implicit ec: scala.concurrent.ExecutionContext): Unit =
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        fs.map(_.transform(scala.util.Success(_)))),
      scala.concurrent.duration.Duration.Inf)
      .collect { case scala.util.Failure(e) => e }.distinct match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => ()
      }

  /** Driver pool for overlapping a chain's INDEPENDENT eager stages
    * (guide §2.6 — the p6 discipline generalized to the composed
    * pipelines): each stage's eager jobs (CC round loops, scratch/
    * checkpoint materializations, tap writes) underfill the cluster,
    * and FIFO scheduling back-fills the gaps. `parProp` set to "0"
    * serializes the stages on one pool thread (dev A/B toggle;
    * submission order preserved). Caller must shutdown() in finally.
    */
  private def overlapPool(n: Int, parProp: String)
      : java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(
      if (sys.props.get(parProp).contains("0")) 1 else n)

  private val p1 = QueryDef(
    "p1_training_corpus",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val keep = DedupOps.keeperIds(s, dir)
      // hashed gram keys (no gram strings — TextOps.hashedGrams)
      val grams = TextOps.hashedGrams(d)
      val bench = grams.filter(col("doc_id") % TextOps.benchMod === 0)
        .select("g").distinct()
      val contaminated = grams
        .filter(col("doc_id") % TextOps.benchMod =!= 0)
        .join(broadcast(bench), "g")
        .select("doc_id").distinct()
      val eligible = d
        .filter(col("doc_id") % TextOps.benchMod =!= 0) // eval holdout out
        .filter(TextOps.qualityOk(col("text")))
        .join(keep, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("source", "doc_id")
      val srcNum = substring(col("source"), 4, 10).cast("int")
      // same scale-safe per-source rank as t8: GlobalOrder.withGroupedRank,
      // not a per-source window wall (see TextOps t8)
      val ranked = graft.operators.GlobalOrder.withGroupedRank(
        eligible.withColumn("frac",
          when(srcNum % 2 === 0, 0.2).otherwise(0.6)),
        Seq("source"), Seq(col("doc_id")), "rn", "n_src")
      ranked
        .filter(col("rn") <= ceil(col("frac") * col("n_src")))
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.keeperCtes},
       |w4 AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |g4 AS (SELECT doc_id,
       |  unnest(list_distinct([list_aggregate(words[i:i+${TextOps.contamN - 1}],'string_agg',' ')
       |                        for i in range(1, len(words)-${TextOps.contamN - 2})])) AS g
       |  FROM w4),
       |bench AS (SELECT DISTINCT g FROM g4 WHERE doc_id % ${TextOps.benchMod} = 0),
       |contam AS (SELECT DISTINCT g4.doc_id FROM g4 JOIN bench USING(g)
       |           WHERE doc_id % ${TextOps.benchMod} <> 0),
       |eligible AS (
       |  SELECT d.source, d.doc_id FROM documents d
       |  JOIN keepers k ON k.doc_id = d.doc_id
       |  WHERE d.doc_id % ${TextOps.benchMod} <> 0
       |    AND ${TextOps.qualityOkSql("d.text")}
       |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
       |),
       |sampled AS (
       |  SELECT source, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n_src,
       |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
       |         THEN 0.2 ELSE 0.6 END AS frac
       |  FROM eligible
       |)
       |SELECT source, doc_id, rn FROM sampled
       |WHERE rn <= CEIL(frac * n_src)
       |ORDER BY source, rn""".stripMargin))

  // ---------------------------------------------------------------- P2
  // The MODERN composed pipeline — the stage chain a 2026 LLM
  // training-data run actually executes, each stage the repo's
  // already-verified scale-path operator:
  //
  //   near-dup collapse (d7 keepers: prefix-filtered Jaccard pairs →
  //   CC keepers) → FUZZY benchmark decontamination (t20: the
  //   broadcast-index / prefix-explode / in-row-verify near-dup arm,
  //   anti-joined on the distinct contaminated doc_ids; the eval
  //   holdout itself is excluded from the corpus) → TRAINED NB
  //   quality/domain keep-rule (t21: model fit once on the %5 train
  //   split of the full corpus, survivors kept only when the
  //   classifier agrees they look like their declared source — the
  //   GPT-3/CCNet "classify, keep in-domain" stage) → temperature
  //   mixture sampling (t16: α = 0.5 per-source quotas filled by the
  //   grouped range rank).
  //
  // Like p1, the whole pipeline is ONE lazy plan, so Catalyst sees the
  // composition whole: the NB scoring join runs only over the
  // dedup/decontamination survivors (the keep anti-joins prune BEFORE
  // the word explode), the model/prior/quota tables stay
  // vocabulary-/class-/source-bounded broadcasts, and the only
  // corpus-wide shuffles are the ones each stage needs alone.
  // Composition is where the r11 broadcast and r12 JIT regressions
  // hid, so the end-to-end chain — not just each stage — is
  // hash-gated: the DuckDB oracle chains the SAME stage CTEs
  // (keeperCtes reused verbatim; t20/t21/t16's CTE blocks inlined with
  // renamed heads where names collide).
  private val p2 = QueryDef(
    "p2_training_corpus_v2",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      // Stages 1/2/3's eager builds are mutually INDEPENDENT — the
      // keeper CC round loop, the fuzzy-decontam shingle index, and
      // the NB model fit all derive from the raw corpus, not from each
      // other — so they run CONCURRENTLY from a driver pool (guide
      // §2.6, the p6 discipline: r22 `Bench prof` read p2 as ~11.5 s of
      // SEQUENTIAL eager jobs, the CC loop alone ~45 jobs, each
      // underfilling 32 cores). Only the dependent tail (survivors
      // join, scoring, mixture) stays sequential.
      val pool = overlapPool(3, "graft.pchain.par")
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val (keep, contam, m, saltW) =
        try {
          // stage 1: near-dup collapse — one keeper per Jaccard cluster
          val fKeep = Future {
            s.sparkContext.setJobDescription("p2: near-dup keepers (CC)")
            DedupOps.keeperIds(s, dir)
          }
          // stage 2: fuzzy decontamination — any doc that near-
          // duplicates an eval item goes; the eval holdout itself never
          // trains. Checkpointed (output-sized: distinct contaminated
          // ids) so the shingle index + prefix probe materialize HERE,
          // overlapped with the CC loop, instead of serially inside
          // survivors' checkpoint.
          val fContam = Future {
            s.sparkContext.setJobDescription("p2: fuzzy decontam set")
            TextOps.fuzzyContamPairs(s, dir)
              .select("doc_id").distinct().localCheckpoint()
          }
          // stage 3's model: t21's NB fit on the full-corpus %5 train
          // split (the filter model is fit on raw data; only the SCORED
          // set shrinks with the pipeline). Pinned — the model frames
          // are vocabulary/class-bounded at any corpus size — so the
          // fit's explode+agg runs here, under the CC wall, and the
          // scoring tail reads model-sized checkpoints.
          val fModel = Future {
            s.sparkContext.setJobDescription("p2: NB model fit")
            val saltW =
              if (CorpusStats.nDocs(s, dir) >= TextOps.lmSaltMinDocs)
                TextOps.lmSaltBuckets else 0
            (TextOps.nbTrain(
              d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)).pinned, saltW)
          }
          settleAll(Seq(fKeep, fContam, fModel))
          val (m, saltW) = Await.result(fModel, Duration.Inf)
          (Await.result(fKeep, Duration.Inf),
            Await.result(fContam, Duration.Inf), m, saltW)
        } finally pool.shutdown()
      // pinned: nbClassify consumes its eval side THREE times (word
      // explode, in-vocab counts, the priors base frame) — without the
      // pin each consumption re-executes the whole keeper-CC + fuzzy-
      // decontamination subplan (measured 40 s vs ~16 at sf1)
      val survivors = d
        .filter(col("doc_id") % TextOps.t20Mod =!= 0)
        .join(keep, "doc_id")
        .join(contam, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // survivors kept when pred_source == source; pinned for the same
      // reason: mixtureSelect reads its input for the per-source stats
      // AND the grouped rank
      val kept = TextOps.nbClassify(survivors, m, saltW)
        .filter(col("correct"))
        .select("source", "doc_id")
        .localCheckpoint()
      // stage 4: α=0.5 temperature mixture over the kept set
      TextOps.mixtureSelect(kept).orderBy("source", "rn")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.keeperCtes},
       |fpairs AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS eval_id, COUNT(*) AS shared
       |  FROM tok a JOIN tok b ON a.t = b.t
       |  WHERE a.doc_id % ${TextOps.t20Mod} <> 0
       |    AND b.doc_id % ${TextOps.t20Mod} = 0
       |  GROUP BY 1, 2
       |),
       |contam AS (
       |  SELECT DISTINCT fpairs.doc_id FROM fpairs
       |  JOIN cnt ca ON ca.doc_id = fpairs.doc_id
       |  JOIN cnt cb ON cb.doc_id = eval_id
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE)
       |    >= ${TextOps.t20T}
       |),
       |d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
       |), tw AS (
       |  SELECT source, unnest(ws) AS w FROM d WHERE doc_id % 5 <> 0
       |), ncnt AS (
       |  SELECT source, w, COUNT(*) AS c FROM tw GROUP BY source, w
       |), tokc AS (
       |  SELECT source, COUNT(*) AS tok_c FROM tw GROUP BY source
       |), vocab AS (
       |  SELECT COUNT(DISTINCT w) AS V FROM tw
       |), classes AS (
       |  SELECT source, COUNT(*) AS n_c FROM d WHERE doc_id % 5 <> 0
       |  GROUP BY source
       |), total AS (
       |  SELECT COUNT(*) AS n FROM d WHERE doc_id % 5 <> 0
       |), priors AS (
       |  SELECT source AS cls,
       |    CAST(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
       |      AS DECIMAL(18,9)) AS prior
       |  FROM classes CROSS JOIN total
       |), model AS (
       |  SELECT source AS cls, w,
       |    CAST(ln(CAST(c + 1 AS DOUBLE)) AS DECIMAL(18,9)) AS lpc
       |  FROM ncnt
       |), base AS (
       |  SELECT source AS cls,
       |    CAST(ln(CAST(tok_c + V AS DOUBLE)) AS DECIMAL(18,9)) AS lbase
       |  FROM tokc CROSS JOIN vocab
       |), surv AS (
       |  SELECT d.doc_id, d.source, d.ws FROM d
       |  JOIN keepers k ON k.doc_id = d.doc_id
       |  WHERE d.doc_id % ${TextOps.t20Mod} <> 0
       |    AND d.doc_id NOT IN (SELECT doc_id FROM contam)
       |), ew AS (
       |  SELECT doc_id, unnest(ws) AS w FROM surv
       |), iv AS (
       |  SELECT ew.doc_id, ew.w FROM ew
       |  JOIN (SELECT DISTINCT w FROM tw) vw ON vw.w = ew.w
       |), nd AS (
       |  SELECT doc_id, COUNT(*) AS n_w FROM iv GROUP BY doc_id
       |), sums AS (
       |  SELECT iv.doc_id, model.cls, SUM(model.lpc) AS slp
       |  FROM iv JOIN model ON model.w = iv.w
       |  GROUP BY iv.doc_id, model.cls
       |), scored AS (
       |  SELECT surv.doc_id, surv.source, priors.cls,
       |    priors.prior + COALESCE(sums.slp, CAST(0 AS DECIMAL(18,9)))
       |      - COALESCE(nd.n_w, 0) * base.lbase AS score
       |  FROM surv CROSS JOIN priors
       |  JOIN base ON base.cls = priors.cls
       |  LEFT JOIN nd ON nd.doc_id = surv.doc_id
       |  LEFT JOIN sums ON sums.doc_id = surv.doc_id
       |    AND sums.cls = priors.cls
       |), ranked_cls AS (
       |  SELECT doc_id, source, cls,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cls) AS r
       |  FROM scored
       |), kept AS (
       |  SELECT source, doc_id FROM ranked_cls WHERE r = 1 AND source = cls
       |), mstats AS (
       |  SELECT source, COUNT(*) AS n_src,
       |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM kept GROUP BY source
       |), mquotas AS (
       |  SELECT source, CAST(n_src AS BIGINT) AS n_src,
       |    CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE) AS weight,
       |    GREATEST(1, CAST(FLOOR(${TextOps.mixT} *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS quota
       |  FROM mstats
       |), mranked AS (
       |  SELECT source, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
       |      AS BIGINT) AS rn
       |  FROM kept
       |)
       |SELECT r.source, r.doc_id, r.rn, q.n_src, q.weight, q.quota
       |FROM mranked r JOIN mquotas q USING (source)
       |WHERE r.rn <= q.quota
       |ORDER BY source, rn""".stripMargin))

  // ---------------------------------------------------------------- P3
  // The COMPLETE modern pipeline — p2's chain with the two stages a
  // production curation run adds between dedup and decontamination:
  // span-grain excision and PII scrubbing. Every stage is the repo's
  // already-verified operator body, composed as one lazy plan:
  //
  //   near-dup collapse (d7 keepers) → SPAN dedup (d11's excision of
  //   every non-first duplicated 8-gram span, ownership scoped to the
  //   keeper corpus — pipeline semantics) → PII scrub (t15's redaction
  //   over the rebuilt text, with the deterministic planting so the
  //   stage provably rewrites) → FUZZY decontamination (t20 over the
  //   PROCESSED text — eval holdout split on the processed frame) →
  //   trained NB keep-rule (t21: model fit on the RAW %5 train split —
  //   the filter model sees raw data; only the scored set shrinks with
  //   the pipeline) → TOKEN-budget temperature mixture (t22 over the
  //   kept set's processed-text token counts).
  //
  // Pin discipline (the p2 lesson, applied up front): `processed` is
  // output-sized and consumed five ways (decontamination shingles,
  // survivor join, three NB-scoring consumptions via survivors, the
  // final token count) — localCheckpoint'd so none replays the
  // keeper-CC + excision subplan; `kept` likewise feeds the mixture's
  // stats and rank passes. The DuckDB oracle chains the SAME stage
  // CTEs — keeperCtes verbatim, d11's excision/rebuild block over the
  // keeper docs (the rebuilt-text list comprehension), t15's
  // inject/redact faces via piiInjectSql/redactSql, t20's pair CTEs
  // over the processed shingles, t21's model/scoring block verbatim,
  // t22's budget fill — so the end-to-end composition is hash-gated.
  private val p3 = QueryDef(
    "p3_training_corpus_v3",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      // Stages 1-3 (keepers → excision → scrub, a sequential chain
      // ending in the `processed` pin) and stage 5's NB model fit are
      // INDEPENDENT — the filter model fits on the RAW corpus — so the
      // two eager builds overlap on a driver pool (guide §2.6; see p2).
      // Stage 4 (decontamination of the PROCESSED text) depends on the
      // chain and stays sequential.
      val pool = overlapPool(2, "graft.pchain.par")
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val (processed, m, saltW) =
        try {
          val fProc = Future {
            s.sparkContext.setJobDescription(
              "p3: keepers + span excise + PII scrub")
            // stage 1: near-dup collapse — one keeper per cluster
            val kdocs = d.join(DedupOps.keeperIds(s, dir), "doc_id")
            // stage 2: span-grain dedup over the keeper corpus
            val excised = DedupOps.spanExciseOver(kdocs)
              .select(col("doc_id"), col("clean_text"))
            // stage 3: PII scrub over the rebuilt text (deterministic
            // planting first — both engines plant identical strings)
            val scrubbed = TextOps.redactPiiProjection(
              excised.select(col("doc_id"),
                TextOps.piiInjectCol(col("clean_text")).as("text")))
            scrubbed
              .select(col("doc_id"), col("clean_text").as("text"))
              .join(d.select("doc_id", "source"), "doc_id")
              .localCheckpoint()
          }
          // stage 5's model: NB fit on the raw %5 train split — pinned
          // (model-sized frames) so the fit runs under the chain's wall
          val fModel = Future {
            s.sparkContext.setJobDescription("p3: NB model fit")
            val saltW =
              if (CorpusStats.nDocs(s, dir) >= TextOps.lmSaltMinDocs)
                TextOps.lmSaltBuckets else 0
            (TextOps.nbTrain(
              d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)).pinned, saltW)
          }
          settleAll(Seq(fProc, fModel))
          val (m, saltW) = Await.result(fModel, Duration.Inf)
          (Await.result(fProc, Duration.Inf), m, saltW)
        } finally pool.shutdown()
      // stage 4: fuzzy decontamination on the PROCESSED text
      val contam = TextOps.fuzzyContamPairsOver(processed)
        .select("doc_id").distinct()
      val survivors = processed
        .filter(col("doc_id") % TextOps.t20Mod =!= 0)
        .join(contam, Seq("doc_id"), "left_anti")
      // stage 5: trained keep-rule — survivors kept when the
      // classifier agrees with their source
      val kept = TextOps.nbClassify(survivors, m, saltW)
        .filter(col("correct")).select("doc_id")
        .join(processed, "doc_id")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " "))
            .cast(org.apache.spark.sql.types.LongType).as("n_tok"))
        .localCheckpoint()
      // stage 6: token-budget temperature mixture over the kept set
      TextOps.tokenBudgetSelect(kept).orderBy("source", "doc_id")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.keeperCtes},
       |kw AS (
       |  SELECT d0.doc_id, string_split(d0.text, ' ') AS words
       |  FROM documents d0 JOIN keepers USING (doc_id)
       |), socc AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(words[i:i+${DedupOps.spanK - 1}], ' ') AS g
       |  FROM kw, unnest(generate_series(1,
       |    greatest(len(words)-${DedupOps.spanK - 1}, 0))) AS t(i)
       |), sstat AS (
       |  SELECT g, COUNT(*) AS cnt, MIN((doc_id, pos)) AS own
       |  FROM socc GROUP BY g
       |), sexc AS (
       |  SELECT o.doc_id, o.pos FROM socc o JOIN sstat st USING (g)
       |  WHERE st.cnt >= 2 AND (o.doc_id, o.pos) <> st.own
       |), smark AS (
       |  SELECT DISTINCT doc_id, pos + dd AS p
       |  FROM sexc, unnest(generate_series(0, ${DedupOps.spanK - 1})) AS t(dd)
       |), srm AS (
       |  SELECT doc_id, list(p) AS ps FROM smark GROUP BY doc_id
       |), clean AS (
       |  SELECT kw.doc_id,
       |    coalesce(array_to_string([words[i] for i in range(1, len(words)+1)
       |      if NOT list_contains(coalesce(srm.ps, []), i)], ' '), '') AS ctext
       |  FROM kw LEFT JOIN srm USING (doc_id)
       |), inj AS (
       |  SELECT doc_id, ${TextOps.piiInjectSql("ctext")} AS text
       |  FROM clean
       |), scrub AS (
       |  SELECT doc_id, ${TextOps.redactSql("text")} AS ptext FROM inj
       |), proc AS (
       |  SELECT sc.doc_id, d0.source, sc.ptext
       |  FROM scrub sc JOIN documents d0 USING (doc_id)
       |), pw AS (
       |  SELECT doc_id, string_split(ptext, ' ') AS pws FROM proc
       |), psh AS (
       |  SELECT doc_id,
       |    list_distinct([list_aggregate(pws[i:i+2], 'string_agg', ' ')
       |                   for i in range(1, len(pws)-1)]) AS sh2
       |  FROM pw
       |), ptok AS (SELECT doc_id, unnest(sh2) AS t FROM psh),
       |pcnt AS (SELECT doc_id, len(sh2) AS n FROM psh),
       |ppairs AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS eval_id, COUNT(*) AS shared
       |  FROM ptok a JOIN ptok b ON a.t = b.t
       |  WHERE a.doc_id % ${TextOps.t20Mod} <> 0
       |    AND b.doc_id % ${TextOps.t20Mod} = 0
       |  GROUP BY 1, 2
       |), pcontam AS (
       |  SELECT DISTINCT ppairs.doc_id FROM ppairs
       |  JOIN pcnt ca ON ca.doc_id = ppairs.doc_id
       |  JOIN pcnt cb ON cb.doc_id = eval_id
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE)
       |    >= ${TextOps.t20T}
       |), d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
       |), tw AS (
       |  SELECT source, unnest(ws) AS w FROM d WHERE doc_id % 5 <> 0
       |), ncnt AS (
       |  SELECT source, w, COUNT(*) AS c FROM tw GROUP BY source, w
       |), tokc AS (
       |  SELECT source, COUNT(*) AS tok_c FROM tw GROUP BY source
       |), vocab AS (
       |  SELECT COUNT(DISTINCT w) AS V FROM tw
       |), classes AS (
       |  SELECT source, COUNT(*) AS n_c FROM d WHERE doc_id % 5 <> 0
       |  GROUP BY source
       |), total AS (
       |  SELECT COUNT(*) AS n FROM d WHERE doc_id % 5 <> 0
       |), priors AS (
       |  SELECT source AS cls,
       |    CAST(ln(CAST(n_c AS DOUBLE) / CAST(n AS DOUBLE))
       |      AS DECIMAL(18,9)) AS prior
       |  FROM classes CROSS JOIN total
       |), model AS (
       |  SELECT source AS cls, w,
       |    CAST(ln(CAST(c + 1 AS DOUBLE)) AS DECIMAL(18,9)) AS lpc
       |  FROM ncnt
       |), base AS (
       |  SELECT source AS cls,
       |    CAST(ln(CAST(tok_c + V AS DOUBLE)) AS DECIMAL(18,9)) AS lbase
       |  FROM tokc CROSS JOIN vocab
       |), surv AS (
       |  SELECT p.doc_id, p.source, string_split(p.ptext, ' ') AS ws
       |  FROM proc p
       |  WHERE p.doc_id % ${TextOps.t20Mod} <> 0
       |    AND p.doc_id NOT IN (SELECT doc_id FROM pcontam)
       |), ew AS (
       |  SELECT doc_id, unnest(ws) AS w FROM surv
       |), iv AS (
       |  SELECT ew.doc_id, ew.w FROM ew
       |  JOIN (SELECT DISTINCT w FROM tw) vw ON vw.w = ew.w
       |), nd AS (
       |  SELECT doc_id, COUNT(*) AS n_w FROM iv GROUP BY doc_id
       |), sums AS (
       |  SELECT iv.doc_id, model.cls, SUM(model.lpc) AS slp
       |  FROM iv JOIN model ON model.w = iv.w
       |  GROUP BY iv.doc_id, model.cls
       |), scored AS (
       |  SELECT surv.doc_id, surv.source, priors.cls,
       |    priors.prior + COALESCE(sums.slp, CAST(0 AS DECIMAL(18,9)))
       |      - COALESCE(nd.n_w, 0) * base.lbase AS score
       |  FROM surv CROSS JOIN priors
       |  JOIN base ON base.cls = priors.cls
       |  LEFT JOIN nd ON nd.doc_id = surv.doc_id
       |  LEFT JOIN sums ON sums.doc_id = surv.doc_id
       |    AND sums.cls = priors.cls
       |), ranked_cls AS (
       |  SELECT doc_id, source, cls,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cls) AS r
       |  FROM scored
       |), kept AS (
       |  SELECT source, doc_id FROM ranked_cls WHERE r = 1 AND source = cls
       |), ktok AS (
       |  SELECT k.source, k.doc_id,
       |    CAST(len(string_split(p.ptext, ' ')) AS BIGINT) AS n_tok
       |  FROM kept k JOIN proc p ON p.doc_id = k.doc_id
       |), s22 AS (
       |  SELECT source,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM ktok GROUP BY source
       |), b22 AS (
       |  SELECT source, GREATEST(1, CAST(FLOOR(${TextOps.mixTokT} *
       |    (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |    AS BIGINT)) AS budget
       |  FROM s22
       |), c22 AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM ktok
       |)
       |SELECT c22.source, c22.doc_id, c22.n_tok, c22.cum_tok, b22.budget
       |FROM c22 JOIN b22 USING (source)
       |WHERE c22.cum_tok - c22.n_tok < b22.budget
       |ORDER BY source, doc_id""".stripMargin))

  // ---------------------------------------------------------------- P4
  // The EMBEDDING-NATIVE curation chain (r18) — p3 curates by n-grams
  // and classifiers; p4 is the same end-to-end discipline for the
  // semantic stages a modern pipeline runs INSTEAD when it owns an
  // embedding column, and every ANN-shaped stage reads the LEDGERS the
  // pipeline maintains rather than rebuilding indexes per run (the
  // d15l/s11l/c1l production shape, composed):
  //
  //   SemDeDup keep-rule over the MAINTAINED s10 kNN-graph ledger
  //   (d15l: ~CC + a partition-committed read — the n^1.5 graph build
  //   happens at most once, at bootstrap) → embedding-space
  //   decontamination (t25: the broadcast eval suite flags every
  //   survivor within cosine radius; the eval holdout itself leaves
  //   the corpus, the t6/p3 discipline) → cluster-balanced TOKEN
  //   budget from the STORED s8 quantizer (c2l: assignment is one
  //   survivor scan + the fixed-width hash-agg argmax; quotas are
  //   cells-bounded broadcasts; the fill is the t9 distributed prefix
  //   sum — no per-cluster window wall).
  //
  // One lazy plan; the only output-sized pin is the final
  // (cid, doc_id, n_tok) frame (everything upstream of it — ledger
  // read, CC, anti-joins, argmax — would otherwise replay per
  // budget-fill pass; the p2 lesson). Scale shape: ledger reads are
  // PartitionFilters-pruned parquet, the eval suite and centroid
  // tables broadcast, candidates stay bounded per item (LshTuning),
  // and the corpus-sized shuffles are exactly the three the semantics
  // need (CC's label propagation on the near-dup minority, the
  // assignment argmax, the narrow prefix-sum rank).
  //
  // Oracle: the three ANN taps (graph edges, decontam candidates,
  // stored centroids) feed one chained CTE — DuckDB re-scores the
  // graph with the exact fold and re-ranks top-KG, re-runs the
  // recursive CC and the keep rule, re-scores every decontam
  // candidate against the radius, re-derives the ENTIRE cluster
  // assignment from the tapped centroids (bit-exact cross-engine
  // cosine), and re-fills the token budgets — so the composition,
  // not just each stage, is hash-gated, under any ledger history
  // (the taps carry what the ledgers actually produced).
  private val p4 = QueryDef(
    "p4_training_corpus_v4",
    (s, dir) => {
      // The three ANN-shaped builds are INDEPENDENT and touch DISJOINT
      // state (s10 graph ledger + p4_graph tap / p4_dec tap / s8 IVF
      // ledger + p4_cents tap), so they overlap on a driver pool —
      // exactly p6's takedown shape (guide §2.6): the ledger-CC round
      // loop, the LSH candidate tap write, and the centroid read each
      // underfill the cluster alone.
      val pool4 = overlapPool(3, "graft.pchain.par")
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool4)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val (keepers, flagged, cents) =
        try {
          // stage 1: SemDeDup keepers over the maintained s10 ledger
          val fKeep = Future {
            s.sparkContext.setJobDescription(
              "p4: SemDeDup keepers (graph ledger)")
            DedupOps.semanticKeepOver(s, dir,
                SimilarityOps.LedgerGraph(SimilarityOps.s10LedgerPath(dir)),
                "p4_graph")
              .select(col("vec_id").as("doc_id"))
          }
          // stage 2: embedding decontamination candidates — every
          // keeper within decontamR of an eval vector gets flagged
          val fFlag = Future {
            s.sparkContext.setJobDescription("p4: decontam candidates")
            SimilarityOps.decontamPairs(s, dir, "p4_dec")
          }
          // stage 3's centroids: the STORED s8 quantizer (no per-run
          // Lloyd training — the c1l/c2l shape)
          val fCents = Future {
            s.sparkContext.setJobDescription(
              "p4: stored quantizer centroids")
            graft.sources.VerifyTap(
              SimilarityOps.quantizerCentroids(s, dir,
                SimilarityOps.StoredQuantizer(
                  SimilarityOps.s8LedgerPath(dir))),
              "p4_cents")
          }
          settleAll(Seq(fKeep, fFlag, fCents))
          (Await.result(fKeep, Duration.Inf),
            Await.result(fFlag, Duration.Inf),
            Await.result(fCents, Duration.Inf))
        } finally pool4.shutdown()
      // the eval holdout leaves the corpus; flagged keepers anti-join
      val surv = TextOps.applyDecontam(
        keepers.filter(
          pmod(col("doc_id"),
            lit(SimilarityOps.decontamMod.toLong)) =!= 0L),
        flagged)
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .join(surv.select(col("doc_id").as("vec_id")), "vec_id")
      val assign = SimilarityOps.assignCids(e, cents)
        .select(col("vec_id").as("doc_id"), col("cid"))
      val toks = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " "))
            .cast(org.apache.spark.sql.types.LongType).as("n_tok"))
      val sel = assign.join(toks, "doc_id")
        .select(col("cid"), col("doc_id"), col("n_tok"))
        .localCheckpoint()
      TextOps.tokenBudgetSelect(sel, "cid").orderBy("cid", "doc_id")
    },
    Some(s"""WITH RECURSIVE ${SimilarityOps.knnGraphCtes("p4_graph")},
       |good AS (
       |  SELECT qid AS i, vec_id AS j FROM granked
       |  WHERE cosine >= ${DedupOps.cosT}
       |),
       |gedges AS (SELECT i AS a, j AS b FROM good
       |           UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN gedges e ON e.a = r.node
       |),
       |keepers AS (
       |  SELECT node AS doc_id FROM reach
       |  GROUP BY node HAVING node = MIN(lab)
       |),
       |dcand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/p4_dec/*.parquet')
       |),
       |dscored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM dcand
       |),
       |flagged AS (
       |  SELECT DISTINCT vec_id AS doc_id FROM dscored
       |  WHERE cosine >= ${SimilarityOps.decontamR}
       |),
       |surv AS (
       |  SELECT doc_id FROM keepers
       |  WHERE doc_id % ${SimilarityOps.decontamMod} <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM flagged)
       |),
       |${CurationOps.centsCte("p4_cents", "c")},
       |d AS (
       |  SELECT a.cid, a.vec_id AS doc_id,
       |    CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_tok
       |  FROM cassign a
       |  JOIN surv sv ON sv.doc_id = a.vec_id
       |  JOIN documents doc ON doc.doc_id = a.vec_id
       |), stats AS (
       |  SELECT cid,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM d GROUP BY cid
       |), budgets AS (
       |  SELECT cid,
       |    GREATEST(1, CAST(FLOOR(${TextOps.mixTokT} *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS budget
       |  FROM stats
       |), cfill AS (
       |  SELECT cid, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY cid ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM d
       |)
       |SELECT cfill.cid, cfill.doc_id, cfill.n_tok, cfill.cum_tok,
       |  b.budget
       |FROM cfill JOIN budgets b USING (cid)
       |WHERE cfill.cum_tok - cfill.n_tok < b.budget
       |ORDER BY cid, doc_id""".stripMargin))

  // ---------------------------------------------------------------- P5
  // The TRAINING-SET REFRESH chain — the run that turns a standing
  // corpus into next week's training export, in the order a production
  // pipeline must apply it:
  //
  //   near-dup collapse (d7 keepers) → leakage-safe holdout split
  //   (t10's hash rule over the DEDUPED corpus — post-dedup, doc-keyed
  //   = cluster-keyed, c3's guarantee for free) → DSIR importance
  //   selection of the TRAIN slice only (t27's scoring over exactly
  //   the corpus being selected from — selecting before the split
  //   would leak selection bias into val/test) → deterministic shard
  //   shuffle of the selected set (t26's seeded Fibonacci deal).
  //
  // One lazy plan; the only corpus-sized shuffles are dedup's prefix
  // join, the scoring aggregation, and the two narrow range ranks
  // (selection + shard positions) — every stats table broadcasts.
  // Oracle: the recursive keeper CTEs chained into the full DSIR CTE
  // stack chained into the shard arithmetic — dedup, split, model,
  // selection, and deal are all hash-verified END TO END.
  private val p5 = QueryDef(
    "p5_training_corpus_v5",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val keep = DedupOps.keeperIds(s, dir)
      val bucket = substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      val train = d.join(keep, "doc_id").filter(bucket < "e6")
        .select("doc_id", "lang", "text")
      val scores = graft.operators.ScratchCache.scratch(
        TextOps.dsirScoresOver(train))
      val ranked = graft.operators.GlobalOrder.withGlobalRank(
        scores, Seq(col("lw").desc, col("doc_id")), "rnk")
      // |train| counted from the PINNED scores frame (one row per
      // train doc — every doc has ≥1 token bucket): counting `train`
      // itself would re-execute the whole keeper-CC dedup subplan for
      // one number (measured 31.8 → 9.8 s at sf1)
      val n = scores.agg(count(lit(1)).as("n"))
      val sel = ranked.crossJoin(broadcast(n))
        .filter(col("rnk") <=
          ((col("n") + 3L) / 4L).cast(org.apache.spark.sql.types
            .LongType))
        .select("doc_id")
      val keyed = sel
        .withColumn("k",
          pmod(pmod(col("doc_id") + lit(TextOps.shardSeed),
              lit(TextOps.shardMod)) *
            lit(TextOps.shardMult), lit(TextOps.shardMod)))
        .withColumn("shard",
          floor(col("k") / lit(TextOps.shardDiv.toDouble))
            .cast(org.apache.spark.sql.types.LongType))
      graft.operators.GlobalOrder.withGroupedRank(
          keyed, Seq("shard"), Seq(col("k"), col("doc_id")), "pos")
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },
    Some(s"""WITH RECURSIVE ${DedupOps.keeperCtes},
       |train AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN keepers USING (doc_id)
       |  WHERE substr(md5(d.doc_id::VARCHAR), 1, 2) < 'e6'
       |), feat AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(w),1,6))::BIGINT % ${TextOps.dsirB} AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w
       |        FROM train)
       |  GROUP BY doc_id, lang, b
       |), bstat AS (
       |  SELECT b,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(c) AS BIGINT) AS cr
       |  FROM feat GROUP BY b
       |), tot AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS nt,
       |    CAST(SUM(c) AS BIGINT) AS nr
       |  FROM feat
       |), lam AS (
       |  SELECT b, CAST(ln(
       |      ((ct+1)::DOUBLE / (cr+1)::DOUBLE)
       |      * ((nr+${TextOps.dsirB})::DOUBLE / (nt+${TextOps.dsirB})::DOUBLE))
       |    AS DECIMAL(18,9)) AS lam
       |  FROM bstat, tot
       |), logw AS (
       |  SELECT f.doc_id,
       |    SUM(CAST(f.c AS DECIMAL(10,0)) * l.lam) AS lw
       |  FROM feat f JOIN lam l USING (b)
       |  GROUP BY f.doc_id
       |), ranked AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY lw DESC, doc_id) AS BIGINT) AS rnk
       |  FROM logw
       |), sel AS (
       |  SELECT doc_id FROM ranked, (SELECT COUNT(*) AS n FROM train) t
       |  WHERE rnk <= (t.n + 3) // 4
       |), keyed AS (
       |  SELECT doc_id,
       |    (((doc_id + ${TextOps.shardSeed}) % ${TextOps.shardMod})
       |      * ${TextOps.shardMult}) % ${TextOps.shardMod} AS k
       |  FROM sel
       |)
       |SELECT CAST(k // ${TextOps.shardDiv} AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY k // ${TextOps.shardDiv} ORDER BY k, doc_id)
       |    AS BIGINT) AS pos,
       |  doc_id
       |FROM keyed
       |ORDER BY shard, pos""".stripMargin))

  // ---------------------------------------------------------------- P6
  // The TAKEDOWN-REFRESH chain (r20) — the weekly run a production
  // pipeline executes when content is reclaimed (DMCA/opt-out), in the
  // order deletions must compose:
  //
  //   takedowns across ALL THREE ledger families — the d9/d17 content-
  //   hash ledger (prefix-pruned slice swap), the d13 band index
  //   (tombstone append, r20), the s10/s14 kNN graph (tombstone
  //   segment) → re-ingest of a fresh batch against the SHRUNK state:
  //   exact-novel admission (reclaimed content re-admits), near-dup
  //   gate against the LIVE band ledger, and a retrieval-readiness
  //   column from the tombstoned graph.
  //
  // Everything after the maintenance writes is ONE lazy plan: the
  // ledger anti-join + batch agg (d9's plan), the band probe (d13's),
  // and the graph read (s14's) feed one export frame. Takedown sets
  // use doc_id % 13 == 4 — disjoint paths from d17 (%7==2) and s14
  // (%13==3), so the p6 ledgers never share state with theirs.
  // Idempotent across runs by the same argument as d17: each run
  // refresh-resurrects then re-removes the same set, landing on the
  // identical end state (hash-verified by the oracle below, which
  // re-derives all three exclusions from scratch — EXCEPT for the
  // hash ledger, brute-force Jaccard for the band gate, tap re-rank
  // for the graph).
  private def p6Path(dir: String, tag: String): String = StatePath(dir, s"p6_$tag")

  private val p6 = QueryDef(
    "p6_takedown_refresh",
    (s, dir) => {
      import SimilarityOps.withLeaseRetry
      val d = Tables.load(s, dir, "documents")
      val prior = d.filter(col("source") =!= "src2")
      val reclaimed = prior.filter(pmod(col("doc_id"), lit(13L)) === 4L)
      // stage 1: TAKEDOWNS on all three ledger families. The families
      // write DISJOINT state paths under their own writer locks, so
      // the three chains run CONCURRENTLY from a small driver pool
      // (guide §2.6: overlap independent jobs — each chain's stages
      // leave most of the cluster idle, and FIFO scheduling back-fills
      // the gaps; order WITHIN a family is preserved). Failures
      // propagate: Await rethrows the first chain exception.
      val hashPath = p6Path(dir, "hash")
      val bandPath = p6Path(dir, "band")
      val gPath = p6Path(dir, "graph")
      val e = Tables.load(s, dir, "embeddings")
        .select("vec_id", "embedding")
      // pool size 1 serializes the chains — dev A/B toggle only
      val pool = overlapPool(3, "graft.p6.par")
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.Future
      // failures SETTLE before they propagate (ADVICE r21; settleAll):
      // fail-fast would leave the surviving chains writing ledger state
      // in the background while the caller (and the bench harness's
      // clear()) races them
      try {
        settleAll(Seq(
          Future {
            s.sparkContext.setJobDescription("p6: hash-ledger takedown")
            DedupOps.refreshLedger(s, hashPath,
              prior.select(md5(col("text")).as("content_hash")).distinct())
            DedupOps.removeFromHashLedger(s, hashPath,
              reclaimed.select(md5(col("text")).as("content_hash")).distinct())
          },
          Future {
            s.sparkContext.setJobDescription("p6: band-ledger takedown")
            DedupOps.refreshNearDupLedger(s, bandPath,
              prior.select("doc_id", "text"))
            DedupOps.removeFromBandLedger(s, bandPath,
              reclaimed.select("doc_id"))
          },
          Future {
            s.sparkContext.setJobDescription("p6: graph-ledger takedown")
            withLeaseRetry() { SimilarityOps.refreshKnnLedger(s, gPath,
              e.filter(pmod(col("vec_id"), lit(8)) =!= 5)) }
            withLeaseRetry() { SimilarityOps.refreshKnnLedger(s, gPath, e) }
            withLeaseRetry() { SimilarityOps.tombstoneIds(s, gPath,
              e.filter(pmod(col("vec_id"), lit(13L)) === 4L).select("vec_id")) }
          }))
      } finally { pool.shutdown() }
      // stage 2: RE-INGEST against the shrunk hash ledger — reclaimed
      // content re-admits as novel (the d17 contract)
      val batch = d.filter(col("source") === "src2")
      val novel = DedupOps.incrementalDedup(batch,
        s.read.parquet(hashPath)).localCheckpoint()
      // stage 3: NEAR-DUP GATE — each novel hash's keeper doc probed
      // against the LIVE band ledger (tombstones anti-joined by the
      // readBandLedger seam); a near-dup of standing content is not
      // re-exported
      val keepers = batch
        .join(novel.select(col("keep_id").as("doc_id")), "doc_id")
        .select("doc_id", "text")
      val bIdx = graft.operators.ScratchCache.scratch(
        DedupOps.minhashIndex(keepers))
      // batch-bounded (≤ one row per probed keeper): broadcast the
      // gate — without the hint the probe-derived side has no size
      // estimate and plans as a sort-merge anti join
      val ndHit = broadcast(DedupOps
        .nearDupProbe(bIdx, DedupOps.readBandLedger(s, bandPath))
        .select(col("i").as("nd_id")).distinct())
      val admitted = novel
        .join(ndHit, novel("keep_id") === ndHit("nd_id"), "left_anti")
      // stage 4: retrieval readiness from the TOMBSTONED graph — how
      // many live kNN neighbors each admitted doc still has (s14's
      // two-sided exclusion; the tap feeds the oracle's exact re-rank)
      val nn = SimilarityOps.s10Graph(s, gPath, Some("p6_graph"))
        .groupBy("qid").agg(count(lit(1)).as("n_graph_neighbors"))
      admitted
        .join(nn, admitted("keep_id") === nn("qid"), "left")
        .select(col("content_hash"), col("keep_id"), col("n_copies"),
          coalesce(col("n_graph_neighbors"), lit(0L))
            .as("n_graph_neighbors"))
        .orderBy("content_hash")
    },
    Some(s"""WITH hledger AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src2'
       |), hremoved AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src2' AND doc_id % 13 = 4
       |), hlive AS (
       |  SELECT content_hash FROM hledger
       |  EXCEPT SELECT content_hash FROM hremoved
       |), batch AS (
       |  SELECT md5(text) AS content_hash, doc_id
       |  FROM documents WHERE source = 'src2'
       |), novel AS (
       |  SELECT content_hash, MIN(doc_id) AS keep_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_copies
       |  FROM batch
       |  WHERE content_hash NOT IN (SELECT content_hash FROM hlive)
       |  GROUP BY content_hash
       |), sh2 AS (
       |  SELECT doc_id, source,
       |    list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
       |                   for i in range(1, len(words)-1)]) AS sh
       |  FROM (SELECT doc_id, source, string_split(text,' ') AS words
       |        FROM documents)
       |), cnt AS (SELECT doc_id, len(sh) AS n FROM sh2),
       |tokb AS (
       |  SELECT s.doc_id, unnest(s.sh) AS t
       |  FROM sh2 s JOIN novel nv ON nv.keep_id = s.doc_id
       |), tokp AS (
       |  SELECT doc_id, unnest(sh) AS t FROM sh2
       |  WHERE source <> 'src2' AND doc_id % 13 <> 4
       |), nd AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
       |  FROM tokb a JOIN tokp b ON a.t = b.t GROUP BY 1, 2
       |), ndhit AS (
       |  SELECT DISTINCT i AS doc_id FROM nd
       |  JOIN cnt ca ON ca.doc_id = nd.i JOIN cnt cb ON cb.doc_id = nd.j
       |  WHERE CAST(shared AS DOUBLE)
       |      / CAST(ca.n + cb.n - shared AS DOUBLE) >= ${DedupOps.jaccardT}
       |), admitted AS (
       |  SELECT * FROM novel
       |  WHERE keep_id NOT IN (SELECT doc_id FROM ndhit)
       |), ${SimilarityOps.knnGraphCtes("p6_graph",
            s"WHERE qid % 13 <> 4 AND vec_id % 13 <> 4")},
       |nn AS (
       |  SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_graph_neighbors
       |  FROM granked GROUP BY qid
       |)
       |SELECT a.content_hash, a.keep_id, a.n_copies,
       |  COALESCE(nn.n_graph_neighbors, 0) AS n_graph_neighbors
       |FROM admitted a LEFT JOIN nn ON nn.qid = a.keep_id
       |ORDER BY content_hash""".stripMargin))

  override val queries: Seq[QueryDef] = Seq(p1, p2, p3, p4, p5, p6)
}
