package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.TestSpark

/** T6–T8 (decontamination, repetition scoring, mixture sampling):
  * result invariants plus the plan shapes that carry them to 100 TB.
  */
class TextPipelineSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)

  test("t6: no benchmark doc leaks into the contaminated set; counts > 0") {
    val out = run("t6_decontaminate")
    out.filter(col("doc_id") % 97 === 0).count() shouldBe 0
    out.filter(col("n_shared") < 1).count() shouldBe 0
  }

  test("t6: benchmark gram set is broadcast — corpus side never shuffles " +
    "for the join") {
    val p = run("t6_decontaminate").queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
  }

  test("t20: fuzzy decontamination equals the brute-force cross-set " +
      "reference; prefix generation is lossless") {
    // independent single-node reference: exact word-3-gram Jaccard of
    // EVERY (corpus, eval) pair — no prefix filter, no positional cap
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def grams(t: String): Set[Seq[String]] = {
      val w = t.split(" ", -1)
      (0 to w.length - 3).map(i => w.slice(i, i + 3).toSeq).toSet
    }
    val g = docs.map { case (id, t) => id -> grams(t) }.toMap
    val evalIds = docs.map(_._1).filter(_ % TextOps.t20Mod == 0)
      .filter(g(_).nonEmpty)
    val corpusIds = docs.map(_._1).filter(_ % TextOps.t20Mod != 0)
    val expected = (for {
      c <- corpusIds; e <- evalIds
      inter = g(c).intersect(g(e)).size
      union = g(c).size + g(e).size - inter
      if union > 0 && inter.toDouble / union >= TextOps.t20T
    } yield (c, e, inter.toLong,
        inter.toDouble / union)).toSet
    val got = run("t20_fuzzy_decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }

  test("t20: eval token index broadcasts; corpus-sized rows never " +
      "shuffle (exchanges carry only the survivor set)") {
    val df = run("t20_fuzzy_decontaminate")
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    // every Exchange sits ABOVE the verify filter (dedup/order of the
    // result-sized survivors): none may carry the exploded corpus side
    p should not include "SortMergeJoin"
    // the corpus side reaches the broadcast join straight from the
    // scratch scan + prefix explode — no hashpartitioning below the
    // jaccard filter. The plan prints joins above their children, so
    // it suffices that no hash exchange appears between the Generate
    // (prefix explode) and the join.
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.contains("Generate posexplode"))
    val joinIdx = lines.indexWhere(_.contains("BroadcastHashJoin"))
    genIdx should be >= 0
    joinIdx should be >= 0
    lines.slice(joinIdx, genIdx).foreach { l =>
      withClue(l) { l should not include "Exchange hashpartitioning" }
    }
  }

  test("t7: ratio invariants hold on the real corpus") {
    val out = run("t7_repetition").cache()
    out.filter(col("n_distinct") > col("n_words")).count() shouldBe 0
    out.filter(col("dup_ratio") < 0 || col("dup_ratio") >= 1)
      .count() shouldBe 0
    out.filter(col("top_word_ratio") * col("n_words") < 1).count() shouldBe 0
    out.unpersist()
  }

  test("t8: every source hits its quota exactly, ranks contiguous") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
    val srcCounts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run("t8_mixture_sample").groupBy("source")
      .agg(count(lit(1)).as("k"), max("rn").as("maxrn")).collect()
    kept should not be empty
    kept.foreach { r =>
      val src = r.getString(0)
      val frac = if (src.stripPrefix("src").toInt % 2 == 0) 0.2 else 0.6
      val quota = math.ceil(frac * srcCounts(src)).toLong
      r.getLong(1) shouldBe quota
      r.getLong(2) shouldBe quota // ranks are 1..quota with no gaps
    }
  }

  test("t8: one hash shuffle carries both the rank and the quota count") {
    val p = run("t8_mixture_sample").queryExecution.executedPlan.toString
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("p1: composed pipeline keeps stage contracts — no cartesian, " +
    "benchmark grams broadcast, holdout filter pushed to a scan") {
    val df = run("p1_training_corpus")
    val p = df.queryExecution.executedPlan.toString
    p should not include "CartesianProduct"
    p should include("BroadcastHashJoin")
    // result invariants: no benchmark doc, quotas respected per source
    val rows = df.cache()
    rows.filter(col("doc_id") % 97 === 0).count() shouldBe 0
    val bad = rows.groupBy("source")
      .agg(count(lit(1)).as("k"), max("rn").as("m"))
      .filter(col("k") =!= col("m")).count()
    bad shouldBe 0 // ranks contiguous 1..k within every source
    rows.unpersist()
  }

  test("p2/p3/p4/p6: the overlapped stage builds are semantics-free — " +
    "the serialized arm (graft.pchain.par=0) returns identical rows") {
    // Each chain's independent eager stages (keeper CC, fuzzy decontam
    // set, NB model fit / the three ANN taps / the three ledger
    // takedowns) run concurrently on PipelineOps.stages (guide §2.6).
    // The runner must only change WHEN work runs, never what any stage
    // computes: the serialized arm and the shipped parallel default
    // must agree row-for-row (p6 is idempotent across runs).
    for (name <- Seq("p2_training_corpus_v2", "p3_training_corpus_v3",
        "p4_training_corpus_v4", "p6_takedown_refresh")) {
      val par = run(name).collect().toSeq
      sys.props("graft.pchain.par") = "0"
      val ser =
        try run(name).collect().toSeq
        finally sys.props.remove("graft.pchain.par")
      withClue(name) { ser should contain theSameElementsAs par }
    }
  }

  test("stages reports every failed stage: the first failure is " +
    "rethrown once all settle, the others ride on it as suppressed") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = the[IllegalStateException] thrownBy PipelineOps.stages(spark, "q")(
      "a" -> (() => throw new IllegalStateException("stage A failed")),
      "b" -> (() => throw new IllegalArgumentException("stage B failed")),
      "slow" -> (() => { Thread.sleep(200); slowDone.set(true) }))
    slowDone.get shouldBe true // rethrown only after every stage settled
    e.getMessage shouldBe "stage A failed"
    e.getSuppressed.map(_.getMessage).toSeq shouldBe Seq("stage B failed")
    PipelineOps.stages(spark, "q")("a" -> (() => 1), "b" -> (() => "x")) shouldBe
      ((1, "x"))
  }

  test("stages runs every job under `<query>: <stage>` in both arms and " +
    "leaves the caller's job description unchanged") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // (stage that started the job, the job's description)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("test.stage")).foreach(st =>
          jobs.add(st -> e.properties.getProperty("spark.job.description")))
    }
    def stage(name: String): (String, () => Long) = name -> (() => {
      sc.setLocalProperty("test.stage", name)
      spark.range(10).count() + spark.range(5).count()
    })
    sc.setJobDescription("caller")
    sc.addSparkListener(listener)
    try for (arm <- Seq(None, Some("0"))) {
      jobs.clear()
      arm.foreach(sys.props("graft.pchain.par") = _)
      try PipelineOps.stages(spark, "q")(stage("a"), stage("b"), stage("c"))
        .shouldBe((15L, 15L, 15L))
      finally sys.props.remove("graft.pchain.par")
      sc.getLocalProperty("spark.job.description") shouldBe "caller"
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      val seen = jobs.asScala.toSeq
      withClue(arm) {
        seen.map(_._1).distinct.sorted shouldBe Seq("a", "b", "c")
        seen.foreach { case (st, desc) => desc shouldBe s"q: $st" }
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  test("p2: composed modern pipeline keeps stage contracts — eval holdout " +
    "and contaminated docs excluded, keep-rule applied, quotas exact") {
    val df = run("p2_training_corpus_v2")
    val p = df.queryExecution.executedPlan.toString
    // the final plan is the mixture stage over the PINNED kept set
    // (survivors/kept localCheckpoint — each is consumed 2-3× by the
    // next stage, so unpinned the keeper-CC + decontamination subplan
    // re-executed per consumption: 40 → 19.6 s at sf1); the classifier
    // argmax therefore lives in the pinned stage, whose
    // WindowGroupLimit shape is gated on t21's own plan in PlanSpec
    p should not include "CartesianProduct"
    p should include("BroadcastHashJoin")
    val rows = df.cache()
    try {
      rows.count() should be > 0L
      // stage-2 contracts: no eval-holdout doc, no fuzzy-contaminated doc
      rows.filter(col("doc_id") % TextOps.t20Mod === 0).count() shouldBe 0
      val contam = TextOps.fuzzyContamPairs(spark, TestSpark.sfDir)
        .select("doc_id").distinct()
      rows.join(contam, "doc_id").count() shouldBe 0
      // stage-1 contract: every selected doc is a dedup keeper
      val keep = DedupOps.keeperIds(spark, TestSpark.sfDir)
      rows.join(keep, Seq("doc_id"), "left_anti").count() shouldBe 0
      // stage-4 contracts: ranks contiguous 1..k per source, k ≤ quota
      val bad = rows.groupBy("source")
        .agg(count(lit(1)).as("k"), max("rn").as("m"), max("quota").as("q"))
        .filter(col("k") =!= col("m") || col("m") > col("q")).count()
      bad shouldBe 0
    } finally rows.unpersist()
  }

  test("t22: token-budget fill is a per-source prefix, every source " +
    "represented, greedy boundary exact; no window wall in the plan") {
    val df = run("t22_token_budget_mixture")
    df.queryExecution.executedPlan.toString should not include "Window"
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySrc = rows.groupBy(_._1)
    val allSrc = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents").select("source").distinct().collect()
      .map(_.getString(0)).toSet
    bySrc.keySet shouldBe allSrc // GREATEST(1, …): all sources present
    bySrc.foreach { case (src, ks) =>
      val sorted = ks.sortBy(_._2)
      // per-source prefix: cum_tok is the exact running sum of n_tok
      sorted.map(_._3).scanLeft(0L)(_ + _).tail shouldBe sorted.map(_._4)
      // greedy boundary: every kept doc STARTS within budget, and the
      // last kept doc is the first to reach/cross it (nothing after
      // it could be kept)
      val budget = ks.head._5
      sorted.foreach { case (_, _, n, cum, _) =>
        (cum - n) should be < budget }
      if (sorted.last._4 < budget) {
        // budget not exhausted → the source's whole corpus was kept
        val nDocs = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "documents").filter(org.apache.spark.sql.functions
            .col("source") === src).count()
        sorted.length.toLong shouldBe nDocs
      }
    }
  }

  test("t23: epoch mixture repeats low-resource sources under the cap; " +
    "full epochs are whole-corpus copies, the partial epoch a prefix; " +
    "no window wall") {
    val df = run("t23_epoch_mixture")
    df.queryExecution.executedPlan.toString should not include "Window"
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3)))
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents").select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val docsBySrc = docs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // α = 2 non-vacuousness: the budget guarantee covers sources
    // AT/BELOW the √-weighted mean, not every source (a heavily
    // skewed corpus leaves its largest source budget < tok_src) —
    // so the repeat assertion quantifies existentially
    rows.groupBy(_._1).values.map(_.map(_._3).max).max should be >= 2L
    rows.groupBy(_._1).foreach { case (src, ks) =>
      val byEpoch = ks.groupBy(_._3)
      val epochs = byEpoch.keySet.toSeq.sorted
      // contiguous epochs from 1; cap + partial bound the count
      epochs shouldBe (1L to epochs.max)
      epochs.max should be <= (TextOps.epochMaxRep + 1)
      val lastFull = byEpoch.filter { case (e, v) =>
        v.map(_._2).toSet == docsBySrc(src) }.keySet
      // full epochs are exact whole-corpus copies and are the LEADING
      // epochs (a partial epoch can only be the last); a pure-subset
      // source (e_full = 0, budget < tok_src) has none
      if (lastFull.nonEmpty)
        lastFull.toSeq.sorted shouldBe (1L to lastFull.max)
      val partials = epochs.filterNot(lastFull)
      partials.length should be <= 1
      partials.foreach { e =>
        e shouldBe epochs.max
        // the partial epoch is a doc_id PREFIX of the source's corpus
        val kept = byEpoch(e).map(_._2).toSet
        val prefix = docsBySrc(src).toSeq.sorted.take(kept.size).toSet
        kept shouldBe prefix
      }
    }
  }

  test("t24: quality-budget fill equals the single-node greedy " +
    "reference exactly; fill order is by score, not doc_id; no window") {
    val df = run("t24_quality_budget_fill")
    df.queryExecution.executedPlan.toString should not include "Window"
    val got = df.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // single-node reference: per source, sort by (score desc, doc_id),
    // greedily keep while the doc STARTS under the budget
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents").select("source", "doc_id", "text").collect()
      .map { r =>
        val (src, id, text) = (r.getString(0), r.getLong(1), r.getString(2))
        val w = text.split(" ")
        val nStop = w.count(Set("the", "a", "of"))
        val nAlpha = text.replace(" ", "").length
        val score = nStop.toDouble / w.length * 0.5 +
          nAlpha.toDouble / w.length * 0.1
        (src, id, score, w.length.toLong)
      }
    val budgets = got.map(r => r._1 -> r._6).toMap
    val expect = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      val sorted = ds.sortBy(d => (-d._3, d._2))
      var cum = 0L
      sorted.flatMap { d =>
        val keep = cum < budgets(src)
        cum += d._4
        if (keep) Some((src, d._2, d._3, d._4, cum, budgets(src))) else None
      }
    }.toSet
    got.toSet shouldBe expect
    // the greedy order is genuinely score-driven somewhere: at least
    // one source's selected set is NOT an ascending-doc_id prefix
    val idPrefix = got.groupBy(_._1).forall { case (src, ks) =>
      val ids = ks.map(_._2).toSet
      val all = docs.filter(_._1 == src).map(_._2).sorted
      ids == all.take(ids.size).toSet
    }
    idPrefix shouldBe false
  }

  test("t12: chunks cover every token; overlap and stride hold exactly") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val chunks = run("t12_chunk_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)

    chunks.keySet shouldBe docs.keySet
    chunks.foreach { case (id, cs) =>
      val toks = docs(id)
      val sorted = cs.sortBy(_._2)
      sorted.map(_._2).toSeq shouldBe (0L until cs.length)
      sorted.foreach { case (_, cid, nTok, text) =>
        val expect = toks.slice(cid.toInt * 24, cid.toInt * 24 + 32)
        text shouldBe expect.mkString(" ") // stride-24, size-32 windows
        nTok shouldBe expect.length
      }
      // coverage: last chunk starts within the doc, so the union of
      // [cid·24, cid·24+32) intervals reaches the final token
      (sorted.last._2 * 24) should be < toks.length.toLong
      (sorted.last._2 * 24 + sorted.last._3) shouldBe toks.length
    }
    // zero-shuffle before the presentation sort: explode + slice only
    val p = run("t12_chunk_overlap").queryExecution.executedPlan.toString
    p.linesIterator.count(_.contains("Exchange")) should be <= 1
  }

  test("t13: exact match vs an independent single-node bigram-LM reference") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    // plain-Scala add-one bigram LM over word STRINGS (the query runs on
    // hashed-long gram keys — agreement also re-proves collision-freeness)
    val bigrams = docs.flatMap { case (_, w) =>
      w.sliding(2).filter(_.length == 2).map(a => (a.head, a(1)))
    }
    val cb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length }
    val cw = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length }
    val vocab = docs.flatMap(_._2).distinct.length
    // mirror the plan's quantization: double → DECIMAL(18,9), HALF_UP on
    // the shortest decimal representation (Spark's Cast-to-decimal rule)
    def q(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val expected = docs.map { case (id, w) =>
      val lps = w.sliding(2).filter(_.length == 2).map { a =>
        q(math.log((cb((a.head, a(1))) + 1).toDouble /
          (cw(a.head) + vocab).toDouble))
      }.toSeq
      id -> (lps.length.toLong, lps.reduce(_.add(_)))
    }.toMap

    val out = run("t13_lm_score").collect()
    out.length shouldBe expected.size
    out.foreach { r =>
      val (n, sum) = expected(r.getLong(0))
      r.getLong(1) shouldBe n
      r.getDouble(2) shouldBe sum.doubleValue()
      r.getBoolean(3) shouldBe
        sum.compareTo(new java.math.BigDecimal(-6L * n).setScale(9)) >= 0
    }
  }

  test("t21: exact match vs an independent single-node Naive Bayes " +
      "reference (split, Laplace grid, decimal argmax)") {
    val d = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val train = d.filter(_._1 % 5 != 0)
    val ev = d.filter(_._1 % 5 == 0)
    val tw = train.flatMap { case (_, s, t) =>
      t.split(" ", -1).map(w => (s, w)) }
    val cnt = tw.groupBy(identity).map { case (k, v) => k -> v.length }
    val tokc = tw.groupBy(_._1).map { case (k, v) => k -> v.length }
    val vocab = tw.map(_._2).toSet
    val vocabN = vocab.size
    val classes = train.groupBy(_._2).map { case (k, v) => k -> v.length }
    val n = train.length
    def q(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val prior = classes.map { case (c, nc) =>
      c -> q(math.log(nc.toDouble / n)) }
    // mirror the plan's SPARSE split: ln((c+1)/(T+V)) = ln(c+1) −
    // ln(T+V), each factor decimal-quantized separately, the base
    // paid once per in-vocab token
    val lbase = classes.keys.map { c =>
      c -> q(math.log((tokc(c) + vocabN).toDouble)) }.toMap
    def lpc(c: String, w: String) = q(math.log(
      (cnt.getOrElse((c, w), 0) + 1).toDouble))
    val expected = ev.map { case (id, src, txt) =>
      val ws = txt.split(" ", -1).filter(vocab.contains)
      val pred = classes.keys.toSeq.map { c =>
        val s = ws.map(w => lpc(c, w)).foldLeft(prior(c))(_.add(_))
          .subtract(lbase(c).multiply(
            new java.math.BigDecimal(ws.length)))
        c -> s
      }.minBy { case (c, s) => (s.negate, c) }._1
      id -> (src, pred)
    }.toMap

    val out = run("t21_quality_classifier").collect()
    out.length shouldBe expected.size
    out.foreach { r =>
      val (src, pred) = expected(r.getLong(0))
      withClue(s"doc ${r.getLong(0)}: ") {
        r.getString(1) shouldBe src
        r.getString(2) shouldBe pred
        r.getBoolean(3) shouldBe (src == pred)
      }
    }
  }

  test("t21: model stays partial-agg'd; argmax window bounded by the " +
      "class count, never a corpus funnel") {
    val out = run("t21_quality_classifier")
    // every eval doc exactly once
    out.groupBy("doc_id").count().filter(col("count") > 1)
      .count() shouldBe 0
    val p = out.queryExecution.executedPlan.toString
    // the one Window ranks C rows per doc (the argmax); the NB fit and
    // the per-(doc, class) sums must all be partial-agg shapes
    p should include("partial_sum")
  }

  test("t13: model probes stay partial-agg + join — no window, " +
    "per-doc sum map-side combined") {
    val p = run("t13_lm_score").queryExecution.executedPlan.toString
    p should not include "Window"
    p should include("partial_sum")
  }

  test("t13: salted ctx probe is result-equal to the plain join") {
    // BASELINE §skew's lm scenario shows the salt beating the naive probe
    // 1.6× on a 50%-hot-context corpus (AQE does not absorb it); the
    // switch must be plan-only
    val d = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val pos = TextOps.lmPositions(d)
    val vocab = TextOps.lmVocab(d)
    def rows(salt: Int) =
      TextOps.lmScoreFromPositions(pos, vocab, salt).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(3))).toSeq
    rows(4) shouldBe rows(0)
  }

  test("t15: every planted PII string is counted and redacted") {
    val out = run("t15_redact_pii").collect()
    out.length should be > 0
    out.foreach { r =>
      val id = r.getLong(0)
      withClue(s"doc $id: ") {
        r.getLong(1) shouldBe (if (id % 7 == 0) 1L else 0L)
        r.getLong(2) shouldBe (if (id % 11 == 0) 1L else 0L)
        r.getLong(3) shouldBe (if (id % 13 == 0) 1L else 0L)
        val clean = r.getString(4)
        clean should not include "@mail.example.com"
        clean should not include "415-555-"
        if (id % 7 == 0) clean should include("<EMAIL>")
        if (id % 11 == 0) clean should include("<PHONE>")
        if (id % 13 == 0) clean should include("<IP>")
      }
    }
  }

  test("t16: temperature quotas honored exactly; weights sum to 1") {
    val out = run("t16_mixture_reweight").collect()
    val bySrc = out.groupBy(_.getString(0))
    val srcCounts = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rows) =>
      val quota = rows.head.getLong(5)
      withClue(s"$src: ") {
        // selected = min(quota, n_src), ranks contiguous from 1
        rows.length.toLong shouldBe math.min(quota, srcCounts(src))
        rows.map(_.getLong(2)).sorted shouldBe (1L to rows.length).toArray
      }
    }
    // α = 0.5 flattens the head: weights sum to ~1 and a smaller source
    // gets a LARGER weight per doc than a bigger one
    val weights = bySrc.toSeq.map { case (_, rows) =>
      (rows.head.getLong(3), rows.head.getDouble(4))
    }
    weights.map(_._2).sum shouldBe 1.0 +- 1e-9
    val sorted = weights.sortBy(_._1)
    if (sorted.head._1 < sorted.last._1)
      sorted.head._2 / sorted.head._1.toDouble should be >
        sorted.last._2 / sorted.last._1.toDouble
  }

  test("t14: tokenization round-trips every document losslessly") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = run("t14_bpe_encode").collect()
    out.length shouldBe docs.size
    out.foreach { r =>
      val text = docs(r.getLong(0))
      withClue(s"doc ${r.getLong(0)}: ") {
        r.getString(2) shouldBe text // detok reconstructs the source
        // merges only ever shrink the base segmentation: per word,
        // 1 ≤ #tokens ≤ #codepoints + 1
        val nWords = text.split(" ").count(_.nonEmpty).toLong
        r.getLong(1) should be >= nWords
        r.getLong(1) should be <=
          (text.codePoints().count() + nWords)
      }
    }
    // the tokenizer must actually compress: 20 merges on this corpus
    // leave strictly fewer tokens than raw symbol count somewhere
    val totalTokens = out.map(_.getLong(1)).sum
    val totalSyms = docs.values.map(t =>
      t.codePoints().count() + t.split(" ").count(_.nonEmpty)).sum
    totalTokens should be < totalSyms
  }

  test("p3 seam: span excision does not erase the fuzzy-decontamination " +
      "signal when the overlap carries no duplicated span") {
    // On the copy-generated driver corpora, every fuzzy-contaminated
    // pair shares long spans, so p3's excision stage removes the
    // contamination before t20 sees it (pcontam = 0 at all driver
    // SFs — excising the duplicated text IS a decontamination). This
    // constructs the case the ordering must still catch: an eval item
    // sharing MANY 3-grams with a corpus doc (Jaccard 50/86 ≈ 0.58 ≥
    // t20T) but zero duplicated 8-gram spans (same 7-word runs,
    // different order — no shared run exceeds spanK−1 words), so the
    // pair must survive excision + scrub and fire the contam stage.
    import spark.implicits._
    val runs = (0 until 10).map(r =>
      (0 until 7).map(i => s"w${r}_$i").mkString(" "))
    // 118 % 59 == 0 → the eval side; neither id trips the PII planting
    val df = Seq((1L, runs.mkString(" ")),
      (118L, runs.reverse.mkString(" "))).toDF("doc_id", "text")
    val clean = DedupOps.spanExciseOver(df)
    clean.filter(col("n_removed") > 0).count() shouldBe 0L // no excision
    val processed = TextOps.redactPiiProjection(
      clean.select(col("doc_id"),
        TextOps.piiInjectCol(col("clean_text")).as("text")))
      .select(col("doc_id"), col("clean_text").as("text"))
    val pairs = TextOps.fuzzyContamPairsOver(processed).collect()
    pairs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_id")))
      .toSeq should contain((1L, 118L))
  }

  test("t26: shard shuffle is a seeded permutation — every doc exactly " +
      "once, contiguous positions per shard, deterministic reruns, and " +
      "top-bit mixing keeps sequential ids off round-robin stripes") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents").select("doc_id").collect().map(_.getLong(0)).toSet
    val out = run("t26_shard_shuffle").collect()
    // a permutation: every document exactly once
    out.length shouldBe docs.size
    out.map(_.getLong(2)).toSet shouldBe docs
    // shards are the hash key's top 3 bits; positions are a contiguous
    // 1..n_shard ranking within each shard
    val byShard = out.groupBy(_.getLong(0))
    all(byShard.keySet) should (be >= 0L and be <= 7L)
    byShard.keySet.size shouldBe 8 // every shard populated at sf0.001
    byShard.values.foreach { rows =>
      rows.map(_.getLong(1)).sorted.toSeq shouldBe
        (1L to rows.length).toSeq
    }
    // deterministic: pure arithmetic, so a rerun deals identically
    run("t26_shard_shuffle").collect().map(_.toSeq).toSeq shouldBe
      out.map(_.toSeq).toSeq
    // the low-bits failure mode (shard = k mod 8 with an odd
    // multiplier) maps consecutive doc_ids round-robin: the shard
    // DELTA between id and id+1 would be the constant mult mod 8.
    // Top-bit shards must break that periodicity.
    val shardOf = out.map(r => r.getLong(2) -> r.getLong(0)).toMap
    val deltas = docs.toSeq.sorted.filter(i => docs.contains(i + 1))
      .take(32)
      .map(i => (shardOf(i + 1) - shardOf(i) + 8) % 8)
    deltas.distinct.size should be > 1
  }

  test("t27: importance selection keeps a quarter, enriches the target " +
      "slice, is deterministic, and plans window-free with a " +
      "broadcast bucket-stats join") {
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents")
    val n = docs.count()
    val df = run("t27_dsir_select")
    val out = df.collect()
    // exactly ceil(n/4) kept, ranks contiguous from 1
    out.length.toLong shouldBe (n + 3) / 4
    out.map(_.getLong(3)).sorted.toSeq shouldBe
      (1L to out.length).toSeq
    // the target slice ('en') must be ENRICHED among the selected:
    // that is the operator's whole claim — importance weights pull the
    // sample toward the target distribution
    val enCorpus = docs.filter(col("lang") === "en").count().toDouble / n
    val enSel = out.count(_.getString(1) == "en").toDouble / out.length
    enSel should be > enCorpus
    // deterministic: no RNG anywhere, reruns select identically
    run("t27_dsir_select").collect().map(_.toSeq).toSeq shouldBe
      out.map(_.toSeq).toSeq
    // scale shape: the rank is the two-job global rank (no Window
    // funnel anywhere — selection plan AND scoring stage), and the
    // B-bounded bucket-stats table joins by broadcast (the scoring
    // stage sits behind the rank's RDD boundary, so gate it directly)
    df.queryExecution.executedPlan.toString should not include "Window"
    val scoring = graft.queries.TextOps.dsirScores(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    scoring should not include "Window"
    scoring should include("BroadcastHashJoin")
  }

  test("t28: weighted sample equals the single-node A-ES reference, " +
      "reruns deterministically, and plans as a bounded-heap top-k " +
      "with no window and no corpus sort") {
    val df = run("t28_weighted_sample")
    val out = df.collect()
    // independent single-node reference: the published A-ES draw —
    // key = ln(u)/w maximized, same seeded md5 uniform, over the
    // collected corpus
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long): Double = {
      val hex = md.digest(s"s28$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 16777216.0
    }
    val ref = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents")
      .select("doc_id", "n_chars").collect()
      .map { r =>
        val w = math.max(r.getLong(1), 1L)
        val lnq = BigDecimal(math.log(u(r.getLong(0))))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (r.getLong(0), lnq / w)
      }
      .sortBy { case (id, k) => (-k, id) }
      .take(graft.queries.TextOps.wsK)
    out.map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe ref.toSeq
    out.map(_.getLong(2)).toSeq shouldBe (1L to ref.length).toSeq
    // deterministic replay
    run("t28_weighted_sample").collect().map(_.toSeq).toSeq shouldBe
      out.map(_.toSeq).toSeq
    // scale shape: bounded-heap aggregate, never a window or a
    // corpus-wide sort (the only Sort orders the K output rows)
    val p = df.queryExecution.executedPlan.toString
    p should not include "Window"
    p should include("topk_by_score")
  }

  test("t29: fused scores self-consistent, strictly rank-ordered, " +
      "deterministic; selection is the bounded-heap top-k, no window") {
    val df = run("t29_rank_fusion")
    val out = df.collect()
    out.length shouldBe graft.queries.TextOps.rrfK
    out.map(_.getLong(5)).toSeq shouldBe (1L to out.length).toSeq
    // rrf is exactly the three-term reciprocal sum of the emitted ranks
    out.foreach { r =>
      val expect = 1.0 / (r.getLong(1) + 60) + 1.0 / (r.getLong(2) + 60) +
        1.0 / (r.getLong(3) + 60)
      r.getDouble(4) shouldBe expect
    }
    // ordered by fused score (doc_id tiebreak)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getDouble(4) > b.getDouble(4) ||
        (a.getDouble(4) == b.getDouble(4) && a.getLong(0) < b.getLong(0)))
    }
    run("t29_rank_fusion").collect().map(_.toSeq).toSeq shouldBe
      out.map(_.toSeq).toSeq
    val p = df.queryExecution.executedPlan.toString
    p should not include "Window"
  }

  test("p5: stage contracts — every exported doc is a deduped keeper " +
      "in the train bucket, the export is the exact train quarter, " +
      "shards are contiguous and the deal is deterministic") {
    val out = run("p5_training_corpus_v5").collect()
    out should not be empty
    val ids = out.map(_.getLong(2)).toSet
    val keepers = run("d7_dedup_apply").collect().map(_.getLong(0)).toSet
    def t10Bucket(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
    }
    ids.subsetOf(keepers) shouldBe true
    all(ids.map(t10Bucket)) should be < "e6"
    // exactly ceil(|train|/4) exported
    val nTrain = keepers.count(t10Bucket(_) < "e6").toLong
    out.length.toLong shouldBe (nTrain + 3) / 4
    // contiguous 1..n_shard positions per shard
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.map(_.getLong(1)).sorted.toSeq shouldBe
        (1L to rows.length).toSeq
    }
    run("p5_training_corpus_v5").collect().map(_.toSeq).toSeq shouldBe
      out.map(_.toSeq).toSeq
  }
}
