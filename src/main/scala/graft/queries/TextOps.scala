package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.Tables

/** Text-analysis operators over `documents` (SURVEY §2.3 T1–T4).
  *
  * All four are single-pass, shuffle-free map projections (plus a partial
  * aggregation for T3) — at 100 TB each runs at scan speed with no data
  * movement beyond the final tiny result. Everything is built from native
  * codegen'd expressions (split / HOFs / regexp); no UDFs.
  *
  * Heuristics mirror the published recipes (fastText-style stopword
  * scoring, Gopher-style quality ratios) but are deliberately simple
  * enough to express identically in the DuckDB oracle SQL.
  */
object TextOps extends QueryGroup {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** Language marker words (per-language stopword lists). The synthetic
    * corpus shares one vocabulary, so this is an operator-shape test, not
    * a linguistics test — the heuristic itself is the deliverable.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("fast", "slow", "merge"),
    "en" -> Seq("the", "a", "value"),
    "es" -> Seq("data", "query", "row"),
    "fr" -> Seq("join", "sort", "hash"),
    "zh" -> Seq("table", "scan", "key"))

  private[queries] def words(c: Column): Column = split(c, " ")

  /** t2's keep-rule as a predicate on `text` — shared with pipeline p1:
    * long enough and not stopword-stuffed ("ok" bucket).
    */
  private[queries] def qualityOk(text: Column): Column = {
    val w = words(text)
    val nWords = size(w).cast(LongType)
    val nStop = hitCount(w, Seq("the", "a", "of"))
    val stopRatio = nStop.cast("double") / nWords.cast("double")
    nWords >= 20 && stopRatio <= 0.15
  }

  /** The same rule in DuckDB SQL (predicate over a `text` column). */
  private[queries] def qualityOkSql(text: String): String = {
    val n = s"len(string_split($text,' '))"
    val stop = s"len(list_filter(string_split($text,' '), x -> x IN ('the', 'a', 'of')))"
    s"($n >= 20 AND CAST($stop AS DOUBLE) / CAST($n AS DOUBLE) <= 0.15)"
  }

  /** #tokens of `w` that appear in `set` (with multiplicity). */
  private def hitCount(w: Column, set: Seq[String]): Column =
    size(filter(w, x => x.isInCollection(set))).cast(LongType)

  private def oHits(set: Seq[String]): String = {
    val list = set.map(s => s"'$s'").mkString(", ")
    s"len(list_filter(string_split(text,' '), x -> x IN ($list)))"
  }

  // ---------------------------------------------------------------- T1
  // Stopword-vote language ID: score each candidate language by marker
  // hits, predict the argmax (alphabetical tiebreak). One projection pass.
  private val t1 = QueryDef(
    "t1_langid",
    (s, dir) => {
      val w = words(col("text"))
      val scored = docs(s, dir).select(
        (col("doc_id") +: col("lang").as("lang_actual") +:
          markers.map { case (l, set) => hitCount(w, set).as(s"s_$l") }): _*)
      val best = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
      // alphabetical priority: first lang hitting the max wins the tie
      val predFirst = markers.reverse.foldLeft(lit("??")) {
        case (els, (l, _)) => when(col(s"s_$l") === best, lit(l)).otherwise(els)
      }
      scored
        .withColumn("lang_pred", predFirst)
        .select("doc_id", "lang_actual", "lang_pred")
        .orderBy("doc_id")
    },
    Some {
      val scores = markers.map { case (l, set) => s"${oHits(set)} AS s_$l" }
        .mkString(",\n    ")
      val best = markers.map { case (l, _) => s"s_$l" }
        .mkString("greatest(", ", ", ")")
      val pred = markers.reverse.foldLeft("'??'") { case (els, (l, _)) =>
        s"CASE WHEN s_$l = $best THEN '$l' ELSE $els END"
      }
      s"""SELECT doc_id, lang_actual, $pred AS lang_pred
         |FROM (
         |  SELECT doc_id, lang AS lang_actual,
         |    $scores
         |  FROM documents
         |) ORDER BY doc_id""".stripMargin
    })

  // ---------------------------------------------------------------- T2
  // Gopher-style quality ratios: word count, mean word length, stopword
  // ratio → linear score + bucket. Pure per-row arithmetic (IEEE-double
  // identical across engines — no aggregation-order sensitivity).

  /** t2's scoring projection over a (doc_id, `textCol`) frame — a pure
    * per-row select, so it is equally a valid STREAMING stage:
    * StreamOps.scrubAndScore (ST11) applies this exact projection per
    * micro-batch, and the spec holds the two faces equal.
    */
  private[graft] def qualityColumns(textCol: String): Seq[Column] = {
    val w = words(col(textCol))
    val nWords = size(w).cast(LongType)
    val nStop = hitCount(w, Seq("the", "a", "of"))
    val alpha = length(regexp_replace(col(textCol), " ", ""))
      .cast(LongType)
    val stopRatio = nStop.cast("double") / nWords.cast("double")
    val meanLen = alpha.cast("double") / nWords.cast("double")
    val score = stopRatio * lit(0.5) + meanLen * lit(0.1)
    Seq(
      nWords.as("n_words"),
      nStop.as("n_stopwords"),
      stopRatio.as("stopword_ratio"),
      meanLen.as("mean_word_len"),
      score.as("quality_score"),
      when(nWords < 20, "too_short")
        .when(stopRatio > 0.15, "boilerplate")
        .otherwise("ok").as("quality_bucket"))
  }

  private[graft] def qualityProjection(df: DataFrame,
      textCol: String = "text"): DataFrame =
    df.select(col("doc_id") +: qualityColumns(textCol): _*)

  private val t2 = QueryDef(
    "t2_quality_score",
    (s, dir) => qualityProjection(docs(s, dir)).orderBy("doc_id"),
    Some(s"""SELECT doc_id, n_words, n_stopwords,
       |  CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE) AS stopword_ratio,
       |  CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE) AS mean_word_len,
       |  (CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
       |    + (CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.1 AS quality_score,
       |  CASE WHEN n_words < 20 THEN 'too_short'
       |       WHEN CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE) > 0.15 THEN 'boilerplate'
       |       ELSE 'ok' END AS quality_bucket
       |FROM (
       |  SELECT doc_id,
       |    len(string_split(text,' ')) AS n_words,
       |    ${oHits(Seq("the", "a", "of"))} AS n_stopwords,
       |    length(replace(text, ' ', '')) AS n_alpha
       |  FROM documents
       |) ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- T3
  // Token counting two ways (whitespace + BPE-ish regex classes),
  // aggregated per source — partial agg makes the shuffle O(#sources).
  private val tokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
  private val t3 = QueryDef(
    "t3_token_count",
    (s, dir) =>
      docs(s, dir)
        .select(col("source"),
          size(words(col("text"))).cast(LongType).as("ws"),
          regexp_count(col("text"), lit(tokenRe)).cast(LongType).as("re"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("re")).as("regex_tokens"))
        .orderBy("source"),
    // CAST(SUM(..) AS BIGINT): DuckDB sums BIGINT into HUGEINT (int128),
    // which pandas renders as float64 ("1435.0") and fails the driver's
    // value-hash against Spark's int64 — r1's only hash mismatch.
    Some(s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
       |  CAST(SUM(len(regexp_extract_all(text, '$tokenRe'))) AS BIGINT) AS regex_tokens
       |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  // ---------------------------------------------------------------- T4
  // 64-bit-style rolling polynomial fingerprint (mod 1e9+7 so both
  // engines stay in exact BIGINT range): fold over characters, h =
  // (h*31 + ascii) mod M. Single HOF pass per row, codegen'd.
  private val fpMod = 1000000007L
  private val t4 = QueryDef(
    "t4_fingerprint",
    (s, dir) => {
      // native codegen rolling hash (one integer loop per doc) — the
      // HOF twin (split-per-char + interpreted fold) is kept in
      // FunctionsSpec as the bit-identity reference
      val fp = org.apache.spark.sql.GraftBridge.column(
        graft.functions.RollingHash(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          7L, 31L, fpMod))
      docs(s, dir)
        .select(col("doc_id"), fp.as("fingerprint"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id,
       |  list_reduce(
       |    list_prepend(7::BIGINT,
       |      list_transform(string_split_regex(text,''), c -> ascii(c)::BIGINT)),
       |    (acc, c) -> (acc*31 + c) % $fpMod) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- T5
  // Corpus vocabulary stats: 5 most frequent words per language.
  // Explode → partial-agg count on (lang, word) → per-lang rank. The
  // count shuffle is bounded by |vocab|×|langs| regardless of corpus
  // size, so the plan is 100 TB-safe.
  private val t5 = QueryDef(
    "t5_vocab_topk",
    (s, dir) => {
      // ~10 languages means a row_number window over partitionBy(lang)
      // funnels each language's ENTIRE vocabulary through one reducer at
      // any cluster size. The TopKByScore bounded-heap aggregate (F5,
      // string-id arm) carries ≤ 5 (word,cnt) pairs per (partition ×
      // lang) across the shuffle instead; the window formulation stays
      // as the oracle, hash-proving the equivalence every run. cnt is
      // exact in the DOUBLE score channel (counts ≪ 2^53).
      val counts = docs(s, dir)
        .select(col("lang"), explode(words(col("text"))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
      counts
        .groupBy("lang")
        .agg(graft.functions.TopKAggregate
          .topKByScore(col("cnt").cast("double"), col("word"), 5).as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col.id").as("word"), col("col.score").cast(LongType).as("cnt"))
        .orderBy("lang", "rank")
    },
    Some("""SELECT lang, rank, word, cnt FROM (
       |  SELECT lang, word, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rank
       |  FROM (
       |    SELECT lang, word, COUNT(*) AS cnt FROM (
       |      SELECT lang, unnest(string_split(text,' ')) AS word FROM documents
       |    ) GROUP BY lang, word
       |  )
       |) WHERE rank <= 5 ORDER BY lang, rank""".stripMargin))

  // ---------------------------------------------------------------- T6
  // Benchmark decontamination (GPT-3 appx C / PaLM style): flag corpus
  // docs sharing any word 4-gram with the benchmark/eval set (here the
  // deterministic holdout doc_id % 97 == 0). The benchmark gram set is
  // eval-suite-sized — fixed, tiny relative to any corpus — so it is
  // BROADCAST and the corpus side never shuffles: contamination checking
  // at 100 TB runs at scan speed, then a per-doc count aggregation.
  private[queries] val contamN = 4
  private[queries] val benchMod = 97

  /** (doc_id, g): hashed word-[[contamN]]-gram keys. Gram keys are longs
    * built by hash-combining per-word hashes — no gram STRING is ever
    * materialized: downstream broadcast sets, probe joins and
    * distinct-counts all run on 8-byte keys. Same words ⇒ same key; a
    * 64-bit collision altering a count is ~2⁻⁶⁴ per gram pair — far
    * below the gate's tolerance (the DedupOps shingle-hashing argument).
    * Duplicate grams per doc are NOT pre-deduped here; the distinct
    * aggregates every consumer already runs handle that.
    */
  private[queries] def hashedGrams(d: DataFrame,
      n: Int = contamN): DataFrame =
    // native single-pass gram builder (see WordGramHashes; HOF twin
    // spec-asserted bit-identical in FunctionsSpec)
    d.select(col("doc_id"), explode(
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashes(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          n, distinctSorted = false))).as("g"))
  private val t6 = QueryDef(
    "t6_decontaminate",
    (s, dir) => {
      val grams = hashedGrams(docs(s, dir))
      val bench = grams.filter(col("doc_id") % benchMod === 0)
        .select("g").distinct()
      grams.filter(col("doc_id") % benchMod =!= 0)
        .join(broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(count_distinct(col("g")).as("n_shared"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |g AS (SELECT doc_id,
       |  unnest(list_distinct([list_aggregate(words[i:i+${contamN - 1}],'string_agg',' ')
       |                        for i in range(1, len(words)-${contamN - 2})])) AS g
       |  FROM w),
       |bench AS (SELECT DISTINCT g FROM g WHERE doc_id % $benchMod = 0)
       |SELECT doc_id, COUNT(DISTINCT g.g) AS n_shared
       |FROM g JOIN bench USING(g)
       |WHERE doc_id % $benchMod <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- T7
  // Gopher-style repetition scoring: duplicate-word fraction and
  // top-word fraction per document. ONE explode → (doc, word) counts →
  // per-doc aggregate — all partial-agg friendly, no per-row HOF folds;
  // ratios are single double divisions (bit-identical across engines).
  private val t7 = QueryDef(
    "t7_repetition",
    (s, dir) => {
      val wc = docs(s, dir)
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("doc_id")
        .agg(sum(col("c")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") /
            col("n_words").cast("double")).as("dup_ratio"),
          (col("top_count").cast("double") /
            col("n_words").cast("double")).as("top_word_ratio"))
        .withColumn("repetitive", col("dup_ratio") > 0.5)
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_words, n_distinct,
       |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_ratio,
       |  CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_ratio,
       |  (1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE)) > 0.5 AS repetitive
       |FROM (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
       |    COUNT(*) AS n_distinct, MAX(c) AS top_count
       |  FROM (
       |    SELECT doc_id, w, COUNT(*) AS c FROM (
       |      SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
       |    ) GROUP BY doc_id, w
       |  ) GROUP BY doc_id
       |) ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- T8
  // Exact domain-mixture sampling: per-source quota = ceil(frac × n_src),
  // filled deterministically by ascending doc_id. With ~10 sources a
  // `row_number() OVER (PARTITION BY source)` window would funnel each
  // source's ENTIRE corpus share through one reducer at 100 TB — so the
  // per-source rank and count come from GlobalOrder.withGroupedRank
  // instead (range partition over (source, doc_id) + broadcast per-source
  // offsets): identical quota semantics, and a huge source spans many
  // partitions instead of drowning one.
  private val t8 = QueryDef(
    "t8_mixture_sample",
    (s, dir) => {
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val frac = when(srcNum % 2 === 0, 0.2).otherwise(0.6)
      val ranked = graft.operators.GlobalOrder.withGroupedRank(
        docs(s, dir).select(col("source"), col("doc_id"), frac.as("frac")),
        Seq("source"), Seq(col("doc_id")), "rn", "n_src")
      ranked
        .filter(col("rn") <= ceil(col("frac") * col("n_src")))
        .select("source", "doc_id", "rn")
        .orderBy("source", "rn")
    },
    Some("""SELECT source, doc_id, rn FROM (
       |  SELECT source, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n_src,
       |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
       |         THEN 0.2 ELSE 0.6 END AS frac
       |  FROM documents
       |) WHERE rn <= CEIL(frac * n_src)
       |ORDER BY source, rn""".stripMargin))

  // ---------------------------------------------------------------- T9
  // Sequence packing: assign documents (in deterministic doc_id order)
  // to fixed-token-budget training packs — pack id = ⌊tokens-before /
  // budget⌋, offset = tokens-before − pack·budget (documents straddling
  // a boundary start the next pack's worth of overflow, the standard
  // concat-then-chunk layout). The running token count comes from
  // GlobalOrder.withGlobalCumSum — a distributed prefix sum, NOT an
  // unpartitioned window — so packing 100 TB never funnels through one
  // executor. Oracle: DuckDB's running-sum window is the single-node
  // twin of the same arithmetic.
  private val packBudget = 512L
  private val t9 = QueryDef(
    "t9_sequence_pack",
    (s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tokens"))
      val summed = graft.operators.GlobalOrder.withGlobalCumSum(
        toks, Seq(col("doc_id")), "n_tokens", "cum_tokens")
      summed
        .withColumn("tokens_before", col("cum_tokens") - col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          (col("tokens_before") / packBudget).cast(LongType).as("pack_id"),
          (col("tokens_before") % packBudget).as("pack_offset"))
        .orderBy("doc_id")
    },
    Some(s"""SELECT doc_id, n_tokens,
       |  CAST(FLOOR(tokens_before / $packBudget) AS BIGINT) AS pack_id,
       |  tokens_before % $packBudget AS pack_offset
       |FROM (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_tokens AS tokens_before
       |  FROM (
       |    SELECT doc_id, len(string_split(text,' ')) AS n_tokens
       |    FROM documents
       |  )
       |) ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- T10
  // Deterministic train/val/test splitting by content-independent hash
  // bucket: md5(doc_id) → 256 buckets via the first two hex chars →
  // ~90/5/5 ranges. Pure per-row projection (no shuffle, no RNG state,
  // reproducible across engines/runs/cluster sizes — the property a
  // held-out split must have). Hex-string range compare avoids any
  // engine-specific hex→int parsing.
  private val t10 = QueryDef(
    "t10_hash_split",
    (s, dir) => {
      val bucket = substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 2)
      docs(s, dir)
        .select(col("doc_id"),
          when(bucket < "e6", "train") // 230/256 ≈ 89.8%
            .when(bucket < "f3", "val") // 13/256 ≈ 5.1%
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
       |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'train'
       |       WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f3' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- T11
  // Corpus-level novelty: the fraction of a document's distinct word
  // bigrams that appear in NO other document — low novelty flags
  // boilerplate/templated text a quality filter should down-weight, high
  // novelty flags unique content worth keeping (and, inverted, a
  // memorization-risk signal). Two count aggregations on hashed-long
  // keys (per-doc distinct bigrams → corpus document frequency → per-doc
  // unique count); the ratio is a single integer division, so the
  // DuckDB twin matches bit for bit.
  private val t11 = QueryDef(
    "t11_novelty",
    (s, dir) => {
      val docBigrams = hashedGrams(docs(s, dir), n = 2)
        .distinct() // one row per (doc, bigram)
      val df = docBigrams.groupBy("g")
        .agg(count(lit(1)).as("df"))
      docBigrams.join(df, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("doc_id"), col("n_bigrams"), col("n_unique"),
          (col("n_unique").cast("double") /
            col("n_bigrams").cast("double")).as("novelty"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |bg AS (SELECT DISTINCT doc_id,
       |  unnest([list_aggregate(words[i:i+1],'string_agg',' ')
       |          for i in range(1, len(words))]) AS g
       |  FROM w),
       |df AS (SELECT g, COUNT(*) AS df FROM bg GROUP BY g)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM bg JOIN df USING(g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- T12
  // Sliding-window chunking with stride (the RAG / long-document prep
  // stage): chunkSize-token windows starting every chunkStride tokens,
  // so consecutive chunks overlap by chunkSize − chunkStride and every
  // token lands in at least one chunk. Pure map-side work — explode the
  // per-doc start sequence, slice the token array — zero shuffles
  // before the final presentation sort; at 100 TB this runs at scan
  // speed like t1–t4.
  private val chunkSize = 32
  private val chunkStride = 24
  private val t12 = QueryDef(
    "t12_chunk_overlap",
    (s, dir) => {
      val w = words(col("text"))
      docs(s, dir)
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0),
            ((size(col("w")) - 1) / chunkStride).cast("int"))).as("cid"))
        .select(col("doc_id"), col("cid").cast(LongType).as("chunk_id"),
          slice(col("w"), col("cid") * chunkStride + 1, lit(chunkSize)).as("c"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("c")).cast(LongType).as("n_tokens"),
          array_join(col("c"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents)
       |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
       |  CAST(len(words[cid*$chunkStride+1 : cid*$chunkStride+$chunkSize]) AS BIGINT) AS n_tokens,
       |  array_to_string(words[cid*$chunkStride+1 : cid*$chunkStride+$chunkSize], ' ') AS chunk_text
       |FROM w, unnest(generate_series(0, (len(words)-1)//$chunkStride)) AS t(cid)
       |ORDER BY doc_id, chunk_id""".stripMargin))

  // --------------------------------------------------------------- T13
  // Bigram-LM cross-entropy scoring — the CCNet/KenLM-style perplexity
  // quality filter: train an add-one-smoothed bigram model ON the corpus
  // (unigram/bigram count tables via partial-agg groupBys over hashed
  // keys; the model is vocabulary-bounded, orders of magnitude smaller
  // than the corpus), then score each document's total log-likelihood
  // Σ ln P(wᵢ₊₁|wᵢ) where P(b|a) = (c(a,b)+1)/(c(a)+V). The only
  // corpus-sized work is the map-side per-position gram explode (the
  // d11 discipline: re-scan beats checkpointing an occ ≈ len× table)
  // plus the two model-probe joins — at web scale the bigram table
  // outgrows any broadcast, so those are hashed-key shuffle joins AQE
  // is free to downgrade to broadcast while the model fits; above
  // [[lmSaltMinDocs]] the ctx probe routes through the salted arm by
  // default (Zipfian hot-context armor, measured in BASELINE §skew).
  // Cross-engine hash-exactness: each per-position log-prob is computed
  // from bit-identical IEEE quotients and quantized to DECIMAL(18,9)
  // BEFORE the per-doc sum, making the aggregation order-independent
  // and absorbing any last-ulp libm ln() divergence between engines;
  // the keep flag compares exact decimals, never floats.
  private val lmKeepNats = 6 // keep docs with avg NLL ≤ 6 nats (ppl ≤ e⁶)

  /** Per-position (doc_id, ctx, g) hashed (context-unigram, bigram)
    * pairs of a (doc_id, text) frame — map-side only (t13).
    */
  private[graft] def lmPositions(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    def grams(n: Int) = column(graft.functions.WordGramHashes(
      expression(col("text")), n, distinctSorted = false))
    d.select(col("doc_id"), grams(1).as("u"), grams(2).as("b"))
      .select(col("doc_id"),
        slice(col("u"), lit(1), size(col("b"))).as("cs"), col("b"))
      .select(col("doc_id"), explode(arrays_zip(col("cs"), col("b"))).as("p"))
      .select(col("doc_id"), col("p.cs").as("ctx"), col("p.b").as("g"))
  }

  /** One-row (vocab) distinct-unigram count of a (doc_id, text) frame. */
  private[graft] def lmVocab(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    d.select(explode(column(graft.functions.WordGramHashes(
        expression(col("text")), 1, distinctSorted = false))).as("w"))
      .agg(count_distinct(col("w")).as("vocab"))
  }

  /** Model build + probe joins + per-doc aggregation over a positions
    * frame: the t13 pipeline below its corpus scan. `saltCtx` > 0 routes
    * the context probe join through [[graft.operators.SkewJoin]] — the
    * ctx key is Zipfian in natural text (one stopword can own a
    * double-digit share of all positions); BASELINE §skew records
    * when the salt pays for itself.
    */
  private[graft] def lmScoreFromPositions(pos: DataFrame, vocab: DataFrame,
      saltCtx: Int = 0): DataFrame = {
    val cb = pos.groupBy("g").agg(count(lit(1)).as("c_bg"))
    val cw = pos.groupBy("ctx").agg(count(lit(1)).as("c_ctx"))
    val posCb = pos.join(cb, "g")
    val probed =
      if (saltCtx > 0)
        graft.operators.SkewJoin.saltedEquiJoin(posCb, cw, "ctx", saltCtx)
      else posCb.join(cw, "ctx")
    probed.crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        log((col("c_bg") + 1).cast("double") /
          (col("c_ctx") + col("vocab")).cast("double"))
          .cast(DecimalType(18, 9)).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp_d"))
      .select(col("doc_id"), col("n_bigrams"),
        // exact decimal sum → double only at the output boundary (the
        // q1 precedent; the keep rule compares exact decimals)
        col("sum_lp_d").cast("double").as("sum_lp"),
        (col("sum_lp_d") >=
          lit(-lmKeepNats).cast(DecimalType(18, 9)) * col("n_bigrams"))
          .as("ppl_ok"))
      .orderBy("doc_id")
  }

  /** Corpus size at which t13's context probe joins go through the
    * salted arm by default (the q36/d2 size-keyed auto-switch pattern;
    * both arms result-equal by spec, so the switch is plan-only).
    *
    * The ctx key is Zipfian in natural text — one stopword can own a
    * double-digit share of ALL bigram positions — and AQE's skew split
    * does not fire on it (BASELINE §skew): the `lm` scenario measures the
    * salted probe winning at EVERY synthetic-hot size swept (1.5× at
    * 12.5k docs through 1.6× at 100k docs, 50%-hot corpus, broadcast
    * disabled). Below the threshold the driver corpus' model tables
    * broadcast (no shuffle, no skew problem) and the salt only adds
    * the big-side row hash + ×buckets model replication; above it, a
    * web-scale vocabulary outgrows broadcast and the hot context
    * becomes a straggler wall. Threshold sits at the same O(100k)
    * regime as [[graft.operators.JaccardNearDup.dfOrderMinDocs]]: the
    * point where corpus-scale skew armor stops being insurance and
    * starts being the plan you'd want on every natural corpus.
    */
  private[queries] val lmSaltMinDocs = 100000L
  private[queries] val lmSaltBuckets = 32

  private val t13 = QueryDef(
    "t13_lm_score",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val saltCtx =
        if (CorpusStats.nDocs(s, dir) >= lmSaltMinDocs) lmSaltBuckets else 0
      lmScoreFromPositions(lmPositions(d), lmVocab(d), saltCtx)
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |pos AS (SELECT doc_id,
       |          unnest(words[1:len(words)-1]) AS ctx,
       |          unnest(words[2:len(words)]) AS nxt
       |        FROM w),
       |bg AS (SELECT doc_id, ctx, ctx || ' ' || nxt AS g FROM pos),
       |cb AS (SELECT g, COUNT(*) AS c_bg FROM bg GROUP BY g),
       |cw AS (SELECT ctx, COUNT(*) AS c_ctx FROM bg GROUP BY ctx),
       |v AS (SELECT COUNT(DISTINCT w) AS vocab
       |      FROM (SELECT unnest(words) AS w FROM w)),
       |lp AS (SELECT doc_id,
       |         CAST(ln(CAST(c_bg + 1 AS DOUBLE)
       |                 / CAST(c_ctx + vocab AS DOUBLE)) AS DECIMAL(18,9)) AS lp
       |       FROM bg JOIN cb USING(g) JOIN cw USING(ctx) CROSS JOIN v)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(lp) AS DOUBLE) AS sum_lp,
       |  (SUM(lp) >= CAST(-$lmKeepNats AS DECIMAL(18,9)) * COUNT(*)) AS ppl_ok
       |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- T14
  // BPE tokenization end-to-end (F12 driven through the driver gate):
  // train [[bpeMerges]] merges on the corpus with the distributed
  // inducer (graft.operators.BpeInduction — dictionary-sized rounds,
  // never corpus-sized), then tokenize every document with the learned
  // tokenizer (merges broadcast; map-side scan-speed work with a
  // per-partition segmentation memo). DuckDB cannot re-run BPE in SQL,
  // so verification splits: the merge sequence and segmentations are
  // proven against an independent single-node reference implementation
  // (BpeInductionSpec, exact equality), while the driver checks the
  // LOSSLESS ROUND-TRIP cross-engine — Spark reconstructs each document
  // from its own tokens (`detok`), the oracle reads the SOURCE text
  // from the documents table, and the hash compare fails on any
  // tokenizer corruption. n_tokens rides the VerifyTap (the weaker,
  // tap-carried channel; its ground truth is the reference spec).
  // CORPUS PRECONDITION for the round-trip oracle: documents must be
  // single-space separated with no leading/trailing/consecutive spaces
  // and no literal '</w>' substring — encodeById drops empty tokens
  // and detok re-joins on single spaces, so a corpus violating this
  // makes the compare fail LOUDLY (a false alarm, not silent
  // corruption). The driver's synthetic corpus satisfies it; if a
  // regen ever doesn't, normalize whitespace on both sides here and in
  // the oracle before comparing.
  private val bpeMerges = 20

  // The learned merge list is a MODEL ARTIFACT (a tokenizer): trained
  // once per corpus version, served to every encode job. Training is
  // deterministic (UTF-8 tie-break), so the (dir, mtime) memo — the
  // CorpusStats discipline — is semantics-free across constructions.
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long), Seq[(String, String)]]

  private def bpeMergeList(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    val mtime = new java.io.File(s"$dir/documents.parquet").lastModified()
    bpeCache.getOrElseUpdate((dir, mtime),
      graft.operators.BpeInduction
        .trainMerges(docs(s, dir), "text", bpeMerges).map(_._1))
  }

  private val t14 = QueryDef(
    "t14_bpe_encode",
    (s, dir) => {
      val d = docs(s, dir)
      val merges = bpeMergeList(s, dir)
      val enc = graft.operators.BpeInduction
        .encodeById(d, "doc_id", "text", merges)
      val out = enc.select(col("doc_id"),
        size(col("tokens")).cast(LongType).as("n_tokens"),
        rtrim(regexp_replace(concat_ws("", col("tokens")),
          lit(graft.operators.BpeInduction.EndOfWord), lit(" ")))
          .as("detok"))
      graft.sources.VerifyTap(out, "t14_enc", coalesce = false)
        .orderBy("doc_id")
    },
    Some(s"""SELECT t.doc_id, t.n_tokens, d.text AS detok
       |FROM read_parquet('${graft.sources.VerifyTap.root}/t14_enc/*.parquet') t
       |JOIN documents d USING (doc_id)
       |ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- T15
  // PII redaction — the C4/Dolma-style scrub pass every public corpus
  // recipe runs before training: emails, phone numbers and IPv4
  // addresses replaced by placeholder tokens, with per-doc match
  // counts. Pure regexp projection: map-side, scan-speed, no shuffle
  // beyond the final order — the same 100 TB shape as t1/t2.
  //
  // The synthetic corpus carries no PII, so the query PLANTS
  // deterministic PII first — both engines plant the identical strings
  // from doc_id arithmetic — and the oracle then proves the REDACTION
  // itself equivalent cross-engine (Java regex vs RE2 agreeing on
  // every planted and every incidental match, counts and rewritten
  // text byte-for-byte). Patterns deliberately use the common subset
  // (no lookaround, ASCII classes) so both engines mean the same thing.
  private val piiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val piiPhone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val piiIp = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** t15's scrub projection over a (doc_id, `textCol`) frame: per-doc
    * match counts + the redacted text. Pure per-row regexp select —
    * equally a valid STREAMING stage: StreamOps.scrubAndScore (ST11)
    * applies this exact projection per micro-batch, and the spec holds
    * the two faces equal.
    */
  private[graft] def redactPiiProjection(df: DataFrame,
      textCol: String = "text"): DataFrame = df.select(col("doc_id"),
    regexp_count(col(textCol), lit(piiEmail)).cast(LongType).as("n_email"),
    regexp_count(col(textCol), lit(piiPhone)).cast(LongType).as("n_phone"),
    regexp_count(col(textCol), lit(piiIp)).cast(LongType).as("n_ip"),
    regexp_replace(regexp_replace(regexp_replace(col(textCol),
        lit(piiEmail), lit("<EMAIL>")),
      lit(piiPhone), lit("<PHONE>")),
      lit(piiIp), lit("<IP>")).as("clean_text"))

  /** Deterministic PII planting from doc_id arithmetic — shared by t15
    * (over raw text) and the composed pipeline p3 (over the excised
    * text), so the scrub stage provably rewrites on any corpus. The
    * input frame must carry the `doc_id` column.
    */
  private[queries] def piiInjectCol(text: Column): Column = concat(text,
    when(pmod(col("doc_id"), lit(7)) === 0,
      concat(lit(" reach u"), col("doc_id").cast("string"),
        lit("@mail.example.com"))).otherwise(lit("")),
    when(pmod(col("doc_id"), lit(11)) === 0,
      concat(lit(" call 415-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(13)) === 0,
      concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(expr("doc_id div 256"), lit(256)).cast("string"),
        lit(".7"))).otherwise(lit("")))

  /** [[piiInjectCol]]'s DuckDB face over a text expression. */
  private[queries] def piiInjectSql(textExpr: String): String =
    s"""$textExpr ||
       |  CASE WHEN doc_id % 7 = 0
       |    THEN ' reach u' || doc_id || '@mail.example.com' ELSE '' END ||
       |  CASE WHEN doc_id % 11 = 0
       |    THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |    ELSE '' END ||
       |  CASE WHEN doc_id % 13 = 0
       |    THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || '.7'
       |    ELSE '' END""".stripMargin

  /** [[redactPiiProjection]]'s rewrite chain, DuckDB face. */
  private[queries] def redactSql(textExpr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($textExpr,
       |    '$piiEmail', '<EMAIL>', 'g'), '$piiPhone', '<PHONE>', 'g'),
       |    '$piiIp', '<IP>', 'g')""".stripMargin

  private val t15 = QueryDef(
    "t15_redact_pii",
    (s, dir) => redactPiiProjection(docs(s, dir)
      .select(col("doc_id"), piiInjectCol(col("text")).as("text")))
      .orderBy("doc_id"),
    Some(s"""WITH inj AS (SELECT doc_id, ${piiInjectSql("text")} AS text
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$piiEmail')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$piiPhone')) AS BIGINT) AS n_phone,
       |  CAST(len(regexp_extract_all(text, '$piiIp')) AS BIGINT) AS n_ip,
       |  ${redactSql("text")} AS clean_text
       |FROM inj ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- T16
  // Temperature-based mixture reweighting (the multilingual-LM recipe:
  // sample source i ∝ n_i^α, α < 1 flattens the head so low-resource
  // sources are up-weighted — mT5/XLM-R style, α = 0.5 here): quota_i =
  // max(1, floor(T · w_i)) with w_i = √n_i / Σ√n_j, filled
  // deterministically by ascending doc_id through the grouped range
  // rank (the t8 no-window machinery). Σ√n accumulates as
  // DECIMAL(18,9) — exact, order-free — so w_i, the quotas, and the
  // selected set are bit-identical cross-engine (the t13 discipline);
  // the per-source stats table is ~|sources| rows and broadcasts.
  private[queries] val mixT = 100L // target sampled corpus size (driver SFs have 500-5000 docs)

  /** t16's body over an arbitrary (source, doc_id) frame — shared by
    * t16 (whole corpus) and the composed pipeline p2 (the kept set
    * after dedup/decontamination/classification). Output: the selected
    * (source, doc_id, rn, n_src, weight, quota) rows, unordered.
    */
  private[queries] def mixtureSelect(d0: DataFrame): DataFrame = {
      val d = d0.select(col("source"), col("doc_id"))
      val stats = d.groupBy("source")
        .agg(count(lit(1)).as("n_src"))
        .withColumn("sqrt_d",
          sqrt(col("n_src").cast("double")).cast(DecimalType(18, 9)))
      val total = stats.agg(sum(col("sqrt_d")).as("total_d"))
      val quotas = stats.crossJoin(broadcast(total))
        .withColumn("weight",
          col("sqrt_d").cast("double") / col("total_d").cast("double"))
        .select(col("source"), col("n_src"), col("weight"),
          greatest(lit(1L),
            floor(lit(mixT.toDouble) * col("weight")).cast(LongType))
            .as("quota"))
      val ranked = graft.operators.GlobalOrder.withGroupedRank(
        d, Seq("source"), Seq(col("doc_id")), "rn")
      ranked.join(broadcast(quotas), "source")
        .filter(col("rn") <= col("quota"))
        .select(col("source"), col("doc_id"), col("rn"),
          col("n_src"), col("weight"), col("quota"))
  }

  private val t16 = QueryDef(
    "t16_mixture_reweight",
    (s, dir) => mixtureSelect(docs(s, dir)).orderBy("source", "rn"),
    Some(s"""WITH stats AS (
       |  SELECT source, COUNT(*) AS n_src,
       |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM documents GROUP BY source
       |), quotas AS (
       |  SELECT source, CAST(n_src AS BIGINT) AS n_src,
       |    CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE) AS weight,
       |    GREATEST(1, CAST(FLOOR($mixT *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS quota
       |  FROM stats
       |), ranked AS (
       |  SELECT source, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS rn
       |  FROM documents
       |)
       |SELECT r.source, r.doc_id, r.rn, q.n_src, q.weight, q.quota
       |FROM ranked r JOIN quotas q USING (source)
       |WHERE r.rn <= q.quota
       |ORDER BY source, rn""".stripMargin))

  // --------------------------------------------------------------- T17
  // TF-IDF keyword extraction: the top-3 most characteristic terms per
  // document — the classic relevance/topic signal a corpus index or
  // mixture analysis wants per doc. Two partial-agg passes build the
  // term-frequency and document-frequency tables (both shuffle on the
  // word key — partial-agg-friendly at any corpus size; df is
  // vocabulary-bounded like t13's model and rides the same
  // AQE-broadcastable probe join); the corpus count is one broadcast
  // row. The per-term score is tf · ln(N/df) with the ln quantized to
  // DECIMAL(18,9) BEFORE the multiply (the t13 discipline — absorbs
  // last-ulp libm divergence, keeps the DESC ranking order identical
  // cross-engine); top-3 selection partitions its window by doc_id
  // (high-cardinality — the legitimate window shape).
  private val t17 = QueryDef(
    "t17_tfidf_keywords",
    (s, dir) => {
      val d = docs(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      // pinned (r21) WHEN LARGE (r22): tf feeds both the df aggregate
      // and the scoring join — unpinned, the corpus explode runs twice.
      // Token-grain, so the scratch is corpus-sized (DISK_ONLY), but
      // the pin is an optimization, not a barrier: below the size gate
      // the second explode is cheaper than the disk round-trip (the
      // unconditional r21 pin measured 0.65 → 0.89 s at sf0.1)
      val tf = graft.operators.ScratchCache.scratchGated(
        d.select(col("doc_id"), explode(words(col("text"))).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))
      val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfT, "w").crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("w"), col("tf"), col("df"),
          // tf as DECIMAL(10,0), not bigint: bigint is decimal(20,0) to
          // the multiply, whose (20,0)×(18,9) product exceeds precision
          // 38 and silently drops to scale 8 — away from DuckDB's 9
          (col("tf").cast(DecimalType(10, 0)) *
            log(col("n_docs").cast("double") / col("df").cast("double"))
              .cast(DecimalType(18, 9))).as("score_d"))
      val byScore = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_d").desc, col("w"))
      scored.withColumn("rk", row_number().over(byScore).cast(LongType))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("w"), col("tf"), col("df"),
          col("score_d").cast("double").as("score"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH tf AS (
       |  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM
       |    (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), dfx AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w
       |), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, w, tf, df,
       |    tf * CAST(ln(n_docs / CAST(df AS DOUBLE)) AS DECIMAL(18,9))
       |      AS score_d
       |  FROM tf JOIN dfx USING(w) CROSS JOIN n
       |), ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER
       |    (PARTITION BY doc_id ORDER BY score_d DESC, w) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, w, tf, df, CAST(score_d AS DOUBLE) AS score
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin))

  // --------------------------------------------------------------- T18
  // Corpus-health diagnostics per language: token/vocabulary counts,
  // hapax fraction, type-token ratio, and the Zipf rank-frequency
  // log-log slope (a natural corpus sits near −1; scraped boilerplate
  // or synthetic spam shows up as a flat or cliffed curve — the
  // corpus-level quality gate next to t2's per-doc score).
  //
  // Scale shape: ONE corpus-sized partial-agg pass (lang × word counts);
  // everything after — the rank window, the regression sums — runs on
  // the VOCABULARY-bounded frequency table (t13's model-table shape:
  // orders of magnitude under the corpus at any size), so the per-lang
  // window is model-sized work, never a corpus funnel. Cross-engine
  // exactness is the q40 discipline: ln(rank)/ln(freq) quantize to
  // DECIMAL(18,9), the regression sums are EXACT decimal sums of exact
  // decimal products (order-independent), and the final slope/ratios
  // are identical IEEE expressions over those sums, rounded to the
  // 1e-6 grid that absorbs the decimal→double cast's >2⁵³ ulp.
  private val t18 = QueryDef(
    "t18_corpus_zipf",
    (s, dir) => {
      val freq = docs(s, dir)
        .select(col("lang"), explode(words(col("text"))).as("w"))
        .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val byFreq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("c").desc, col("w"))
      val ranked = freq.withColumn("rk", row_number().over(byFreq))
        .select(col("lang"), col("c"),
          log(col("rk").cast(DoubleType)).cast(DecimalType(18, 9)).as("x"),
          log(col("c").cast(DoubleType)).cast(DecimalType(18, 9)).as("y"))
      val sums = ranked.groupBy("lang").agg(
        count(lit(1)).as("vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      def d(c: String) = col(c).cast(DoubleType)
      val dn = col("vocab").cast(DoubleType)
      sums.select(col("lang"), col("n_tokens"), col("vocab"), col("hapax"),
          round(dn / d("n_tokens"), 6).as("ttr"),
          round(d("hapax") / dn, 6).as("hapax_frac"),
          round((dn * d("sxy") - d("sx") * d("sy")) /
            (dn * d("sxx") - d("sx") * d("sx")), 6).as("zipf_slope"))
        .orderBy("lang")
    },
    Some("""WITH freq AS (
       |  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM
       |    (SELECT lang, unnest(string_split(text,' ')) AS w FROM documents)
       |  GROUP BY lang, w
       |), ranked AS (
       |  SELECT lang, c,
       |    CAST(ln(CAST(ROW_NUMBER() OVER
       |      (PARTITION BY lang ORDER BY c DESC, w) AS DOUBLE))
       |      AS DECIMAL(18,9)) AS x,
       |    CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,9)) AS y
       |  FROM freq
       |), sums AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
       |  FROM ranked GROUP BY lang)
       |SELECT lang, n_tokens, vocab, hapax,
       |  round(CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
       |  round(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6)
       |    AS hapax_frac,
       |  round((CAST(vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
       |FROM sums ORDER BY lang""".stripMargin))

  // --------------------------------------------------------------- T19
  // Source-drift detection: cosine similarity between every pair of
  // sources' unigram COUNT profiles — the corpus-snapshot comparator
  // (a feed that shifted topic/language/generator shows up as its
  // row's similarity dropping against every stable source; the same
  // statistic compares a new crawl snapshot to the standing corpus).
  //
  // Scale shape: ONE corpus-sized partial-agg pass (source × word
  // counts); everything after — the profile self-join on the word key,
  // the norms — runs on the VOCABULARY-bounded frequency table
  // (sources × vocab rows; the t13/t18 model-table shape). Source
  // count is small by nature (feeds, not documents), so the S² pair
  // output is tiny.
  //
  // Cross-engine exactness without any quantization discipline: dot
  // products and norms are EXACT BIGINT sums of count products; the
  // final cosine is one identical IEEE expression over exact integers
  // on both engines, rounded to the 1e-6 grid only to absorb the
  // >2⁵³-cast ulp (q40's argument).
  private val t19 = QueryDef(
    "t19_source_drift",
    (s, dir) => {
      // pinned (r21) WHEN LARGE, memory-first (r22): freq is consumed
      // three ways (norms, both sides of the dots self-join) —
      // unpinned, each consumption re-runs the corpus explode. The
      // table itself is vocabulary × sources bounded — MODEL-sized at
      // any corpus size — so it takes the model level
      // (MEMORY_AND_DISK), and below the size gate it is not pinned at
      // all (the r21 unconditional DISK_ONLY pin was 2.3× slower than
      // recompute at sf0.1: disk round-trips on a tiny table)
      val freq = graft.operators.ScratchCache.scratchModel(docs(s, dir)
        .select(col("source"), explode(words(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c")))
      val norms = freq.groupBy("source")
        .agg(sum(col("c") * col("c")).as("nn"))
      val dots = freq.as("a").join(freq.as("b"),
          col("a.w") === col("b.w") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"),
          count(lit(1)).as("shared_words"))
      dots
        .join(norms.select(col("source").as("src_a"), col("nn").as("na")),
          "src_a")
        .join(norms.select(col("source").as("src_b"), col("nn").as("nb")),
          "src_b")
        .select(col("src_a"), col("src_b"), col("shared_words"),
          round(col("dot").cast(DoubleType) /
            (sqrt(col("na").cast(DoubleType)) *
              sqrt(col("nb").cast(DoubleType))), 6).as("cos_sim"))
        .orderBy("src_a", "src_b")
    },
    Some("""WITH freq AS (
       |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM
       |    (SELECT source, unnest(string_split(text,' ')) AS w
       |     FROM documents)
       |  GROUP BY source, w
       |), norms AS (
       |  SELECT source, CAST(SUM(c*c) AS BIGINT) AS nn
       |  FROM freq GROUP BY source
       |), dots AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(SUM(a.c*b.c) AS BIGINT) AS dot,
       |    CAST(COUNT(*) AS BIGINT) AS shared_words
       |  FROM freq a JOIN freq b
       |    ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, shared_words,
       |  round(CAST(dot AS DOUBLE) /
       |    (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6)
       |    AS cos_sim
       |FROM dots
       |JOIN norms na ON na.source = src_a
       |JOIN norms nb ON nb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin))

  // ---------------------------------------------------------------- T20
  // FUZZY benchmark decontamination — t6's near-duplicate arm. t6
  // flags spans (any shared 4-gram with the eval holdout: verbatim
  // quotation/containment, GPT-3 appx C style); t20 flags documents
  // that ARE an eval item, approximately — reformatted, lightly
  // paraphrased, whitespace-mangled copies — reporting WHICH item and
  // an exact similarity: (doc_id, eval_id, shared, jaccard) for every
  // corpus doc with word-3-gram Jaccard ≥ t20T against any benchmark
  // doc. The holdout rule is t6's shape (doc_id % mod == 0) with t20's
  // own modulus: the split is arbitrary in production (the eval suite
  // is whatever benchmark you guard), and 59 is chosen so the driver
  // corpus' planted near-dup pairs actually CROSS the boundary —
  // %97 strands them all corpus-side and the gate would pass
  // vacuously on an empty report.
  //
  // The 100 TB plan exploits the asymmetry — the eval suite is FIXED
  // and tiny relative to any corpus: the benchmark's full token index
  // (token, position, full shingle set riding along) BROADCASTS, the
  // corpus side explodes only each doc's Jaccard-t PREFIX tokens
  // (lossless: a qualifying pair's first shared token under the
  // global order sits inside the corpus doc's prefix — the
  // JaccardNearDup argument, one-sided since the eval side keeps full
  // lists), and the exact verify (sorted-merge intersect) runs INSIDE
  // the broadcast-join row — corpus-sized data NEVER shuffles; the
  // only exchanges in the plan carry the result-sized survivor set
  // (dedup + order). The PPJoin+ positional cap kills doomed
  // candidates before the intersect. ScratchCache barrier between the
  // computed shingle arrays and the explode = the d8/s2 JIT
  // discipline.
  private[queries] val t20T = 0.5
  private[queries] val t20Mod = 59

  /** t20's body minus the presentation sort: every (corpus doc, eval
    * item) pair with word-3-gram Jaccard ≥ [[t20T]] across the
    * doc_id % [[t20Mod]] holdout split — shared by t20 (reported
    * directly) and the composed pipeline p2 (which anti-joins the
    * distinct contaminated doc_ids). See t20's header for the
    * broadcast-index / prefix-explode / in-row-verify scale plan.
    */
  private[queries] def fuzzyContamPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = fuzzyContamPairsOver(docs(s, dir))

  /** [[fuzzyContamPairs]] over an arbitrary (doc_id, text) frame — the
    * composed pipeline p3 decontaminates its PROCESSED text (post
    * span-excision + scrub), not the raw corpus, so the frame is a
    * parameter. Same holdout split, same broadcast-index /
    * prefix-explode / in-row-verify plan.
    */
  private[queries] def fuzzyContamPairsOver(d0: DataFrame): DataFrame = {
      import org.apache.spark.sql.GraftBridge.{column, expression}
      val t = t20T
      val sh = graft.operators.ScratchCache.scratch(
        d0.select(col("doc_id"),
          column(graft.functions.WordGramHashes(
            expression(col("text")), 3, distinctSorted = true)).as("sh"))
          .withColumn("n", size(col("sh"))))
      // benchmark token index: eval-suite-sized, broadcast — full
      // token lists with positions, shingle set riding for the verify
      val bench = sh.filter(col("doc_id") % t20Mod === 0 &&
          col("n") > 0)
        .select(col("doc_id").as("eval_id"), col("sh").as("shb"),
          col("n").as("nb"), posexplode(col("sh")).as(Seq("p0", "tok")))
        .withColumn("posb", col("p0") + 1).drop("p0")
      // corpus side: prefix tokens only, positions + set riding
      val prefLen = (col("n") - ceil(col("n") * t) + 1).cast("int")
      val corpus = sh.filter(col("doc_id") % t20Mod =!= 0)
        .select(col("doc_id"), col("sh").as("sha"), col("n").as("na"),
          posexplode(slice(col("sh"), lit(1), prefLen))
            .as(Seq("p0", "tok")))
        .withColumn("posa", col("p0") + 1).drop("p0")
      val shared = column(graft.functions.SortedLongIntersectCount(
        expression(col("sha")), expression(col("shb"))))
      corpus.join(broadcast(bench), Seq("tok"))
        // length + PPJoin+ positional filters (the JaccardNearDup
        // bounds; float slack one-sided — admits only, verify exact)
        .filter(col("na") >= col("nb") * t &&
          col("nb") >= col("na") * t &&
          (lit(1) + least(col("na") - col("posa"),
            col("nb") - col("posb"))) * (1.0 + t) >=
            (col("na") + col("nb")) * t - 1e-9)
        .withColumn("shared", shared)
        .withColumn("jaccard", col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"))
        .filter(col("jaccard") >= t)
        .select(col("doc_id"), col("eval_id"),
          col("shared").cast(LongType).as("shared"), col("jaccard"))
        .dropDuplicates("doc_id", "eval_id")
  }

  private val t20 = QueryDef(
    "t20_fuzzy_decontaminate",
    (s, dir) => fuzzyContamPairs(s, dir).orderBy("doc_id", "eval_id"),
    Some(s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
       |                   for i in range(1, len(words)-1)]) AS sh
       |  FROM (SELECT doc_id, string_split(text,' ') AS words FROM documents)
       |), tok AS (SELECT doc_id, unnest(sh) AS t FROM sh),
       |cnt AS (SELECT doc_id, len(sh) AS n FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS doc_id, b.doc_id AS eval_id,
       |    COUNT(*) AS shared
       |  FROM tok a JOIN tok b ON a.t = b.t
       |  WHERE a.doc_id % $t20Mod <> 0 AND b.doc_id % $t20Mod = 0
       |  GROUP BY 1, 2
       |)
       |SELECT pairs.doc_id AS doc_id, eval_id,
       |  CAST(shared AS BIGINT) AS shared,
       |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = pairs.doc_id
       |JOIN cnt cb ON cb.doc_id = eval_id
       |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= $t20T
       |ORDER BY doc_id, eval_id""".stripMargin))

  // --------------------------------------------------------------- T21
  // TRAINED quality/domain classifier — the GPT-3/CCNet pipeline stage:
  // fit a multinomial Naive Bayes on a deterministic split of the
  // corpus (labels = `source`; the production instance is
  // "curated-reference vs crawl", the mechanics are identical), then
  // classify the held-out split. The NB fit is exactly one partial-agg
  // count pass — the model stays VOCABULARY-BOUNDED at any corpus
  // size (the t13/t5 model-vs-data discipline):
  //   model(w, c) = ln((cnt(w, c) + 1) / (tok_c + V))  [Laplace]
  //   prior(c)    = ln(n_c / n)
  // built DENSE over vocab × classes (a missing (w, c) pair must score
  // as the smoothed zero, not silently drop the class from a doc's
  // sum). Scoring explodes eval words and joins the model on the word
  // key — Zipfian like t13's ctx, so above [[lmSaltMinDocs]] the probe
  // goes through the same measured salted arm; per-(doc, class) sums
  // are DECIMAL(18, 9)-quantized per term (order-free, engine-exact),
  // the argmax window ranks C rows per doc (bounded by the class
  // count, never a corpus funnel), and docs with zero in-vocabulary
  // words still classify on priors alone via the eval × classes base
  // frame. Every eval doc gets exactly one row: (true source,
  // predicted source, correct) — the per-source accuracy roll-up is
  // one further groupBy a user adds.
  /** The trained NB model's four frames — all vocabulary/class-bounded
    * (never corpus-sized): sparse per-(word, class) ln(c+1) terms, the
    * C-row per-class base ln(tok_c+V), the C-row priors, the train
    * vocabulary. Shared by batch t21 and the ST13 streaming face.
    */
  private[graft] final case class NbModel(model: DataFrame,
      base: DataFrame, priors: DataFrame, vocab: DataFrame,
      releaseScratch: () => Unit = () => ()) {
    /** Eagerly pin every frame ([[org.apache.spark.sql.Dataset
      * localCheckpoint]]) — the streaming face re-plans per
      * micro-batch and must not re-run training each trigger.
      * The checkpoints materialize every derived frame, so the
      * training scratch (nbTrain's cnt pin) is dead afterwards and is
      * released here — a long-running stream must not hold a persisted
      * training table for its whole life (ADVICE r21).
      */
    def pinned: NbModel = {
      val p = NbModel(model.localCheckpoint(),
        base.localCheckpoint(), priors.localCheckpoint(),
        vocab.localCheckpoint())
      releaseScratch()
      p
    }
  }

  /** Fit the multinomial NB: one partial-agg count pass over the
    * training split. See [[nbClassify]] for the scoring algebra.
    */
  private[graft] def nbTrain(train: DataFrame): NbModel = {
    val tw = train.select(col("source"),
      explode(words(col("text"))).as("w"))
    // ONE corpus-explode pass (r21): tok_c, V and the vocab set are all
    // derivable from the (source, w) count table — tok_c = Σc per
    // source, V = distinct w, vocab = distinct w — so the train corpus
    // is exploded once instead of four times (the r21 plan capture
    // showed four separate scan+Generate subtrees feeding one model).
    // cnt is VOCABULARY × CLASSES bounded (the t13/t5 model-vs-data
    // discipline), so the pin is a MODEL-sized scratch at any corpus
    // size — memory-first level, size-gated (r22: below the gate the
    // extra explodes are cheaper than the pin round-trip), and each
    // derived aggregate is exactly equal to its corpus-pass original:
    // same groups, same counts.
    val cnt = graft.operators.ScratchCache.scratchModel(
      tw.groupBy("source", "w").agg(count(lit(1)).as("c")))
    val tokc = cnt.groupBy("source").agg(sum(col("c")).as("tok_c"))
    val vocabN = cnt.agg(count_distinct(col("w")).as("V"))
    val classes = train.groupBy("source").agg(count(lit(1)).as("n_c"))
    val total = train.agg(count(lit(1)).as("n"))
    val priors = classes.crossJoin(broadcast(total))
      .select(col("source").as("cls"),
        log(col("n_c").cast("double") / col("n").cast("double"))
          .cast(DecimalType(18, 9)).as("prior"))
    val model = cnt.select(col("source").as("cls"), col("w"),
      log((col("c") + 1L).cast("double"))
        .cast(DecimalType(18, 9)).as("lpc"))
    val base = tokc.crossJoin(broadcast(vocabN))
      .select(col("source").as("cls"),
        log((col("tok_c") + col("V")).cast("double"))
          .cast(DecimalType(18, 9)).as("lbase"))
    NbModel(model, base, priors, cnt.select("w").distinct(),
      () => graft.operators.ScratchCache.release(cnt))
  }

  /** Classify (doc_id, source, text) rows against a trained model.
    *
    * SPARSE scoring (r14 plan audit): the Laplace term splits as
    * ln((c+1)/(tok_c+V)) = ln(c+1) − ln(tok_c+V), and ln(0+1) = 0 —
    * so a dense vocab × classes grid never needs to ride the scoring
    * join. The join carries only the OBSERVED (w, class) count rows
    * (positions match ≤ the classes a word actually appeared in, not
    * all C), and each doc pays the per-class base −n_d·ln(tok_c+V)
    * exactly once via its in-vocab token count — scored rows fall
    * from positions × C to positions × present-classes + docs × C
    * (sf10 measured in BASELINE). Both terms decimal-quantized, so
    * the per-(doc, class) sum stays order-free and engine-exact; the
    * oracle and the single-node reference spec compute the identical
    * split. The argmax window ranks C rows per doc (Spark plans it as
    * WindowGroupLimit — see PLANS.md); zero-in-vocab docs classify on
    * priors alone via the eval × classes base frame.
    */
  private[graft] def nbClassify(eval_ : DataFrame, m: NbModel,
      saltW: Int): DataFrame = {
    val ew = eval_.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val inVocab = ew.join(m.vocab, "w")
    val nd = inVocab.groupBy("doc_id").agg(count(lit(1)).as("n_w"))
    val probed =
      if (saltW > 0)
        graft.operators.SkewJoin.saltedEquiJoin(inVocab, m.model, "w", saltW)
      else inVocab.join(m.model, "w")
    val sums = probed.groupBy("doc_id", "cls")
      .agg(sum(col("lpc")).as("slp"))
    val zeroD = lit(0).cast(DecimalType(18, 9))
    val scored = eval_.select(col("doc_id"), col("source"))
      .crossJoin(broadcast(m.priors))
      .join(broadcast(m.base), Seq("cls"))
      .join(nd, Seq("doc_id"), "left")
      .join(sums, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("source"), col("cls"),
        (col("prior") + coalesce(col("slp"), zeroD) -
          coalesce(col("n_w"), lit(0L)) * col("lbase")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("doc_id"), col("source"),
        col("cls").as("pred_source"),
        (col("source") === col("cls")).as("correct"))
  }

  private val t21 = QueryDef(
    "t21_quality_classifier",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val saltW =
        if (CorpusStats.nDocs(s, dir) >= lmSaltMinDocs) lmSaltBuckets else 0
      nbClassify(d.filter(pmod(col("doc_id"), lit(5L)) === 0L),
        nbTrain(d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)), saltW)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
       |), tw AS (
       |  SELECT source, unnest(ws) AS w FROM d WHERE doc_id % 5 <> 0
       |), cnt AS (
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
       |  FROM cnt
       |), base AS (
       |  SELECT source AS cls,
       |    CAST(ln(CAST(tok_c + V AS DOUBLE)) AS DECIMAL(18,9)) AS lbase
       |  FROM tokc CROSS JOIN vocab
       |), ew AS (
       |  SELECT doc_id, unnest(ws) AS w FROM d WHERE doc_id % 5 = 0
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
       |  SELECT d.doc_id, d.source, priors.cls,
       |    priors.prior + COALESCE(sums.slp, CAST(0 AS DECIMAL(18,9)))
       |      - COALESCE(nd.n_w, 0) * base.lbase AS score
       |  FROM d CROSS JOIN priors
       |  JOIN base ON base.cls = priors.cls
       |  LEFT JOIN nd ON nd.doc_id = d.doc_id
       |  LEFT JOIN sums ON sums.doc_id = d.doc_id AND sums.cls = priors.cls
       |  WHERE d.doc_id % 5 = 0
       |), ranked AS (
       |  SELECT doc_id, source, cls,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, cls) AS r
       |  FROM scored
       |)
       |SELECT doc_id, source, cls AS pred_source,
       |  (source = cls) AS correct
       |FROM ranked WHERE r = 1 ORDER BY doc_id""".stripMargin))


  // --------------------------------------------------------------- T22
  // TOKEN-BUDGET temperature mixture — t16's quota fill measured in
  // TOKENS, which is what a training run actually budgets (a source's
  // contribution to a token-count-targeted mix, not a document count):
  // per-source budget_i = max(1, ⌊T_tok · w_i⌋) with w_i =
  // √tok_i / Σ√tok_j (the same α = 0.5 temperature flattening as t16,
  // over TOKEN totals), filled greedily by ascending doc_id — a doc is
  // kept iff the budget is not yet exhausted when it starts
  // (cum_tok − n_tok < budget), so every source contributes at least
  // its first document and the kept set is a per-source prefix.
  //
  // Scale shape: token counts are one narrow projection; the
  // per-source running token count is GlobalOrder.withGlobalCumSum
  // over (source, doc_id) — the t9 distributed prefix sum, NOT a
  // per-source window wall — converted to per-source sums by
  // subtracting each source's exclusive prefix offset (a G-row
  // broadcast, the withGroupedRank trick applied to sums). Σ√tok
  // accumulates as DECIMAL(18,9) (the t16/t13 order-free exactness
  // discipline), so weights, budgets, and the kept set are
  // bit-identical cross-engine.
  private[queries] val mixTokT = 1000L // token target (binds at driver SFs)

  /** t22's body over an arbitrary (`key`, doc_id, n_tok) frame —
    * shared by t22 (whole corpus, key = source), the composed pipeline
    * p3 (the kept set's processed-text token counts), and c2 (key =
    * semantic cluster id). Output: the selected (`key`, doc_id, n_tok,
    * cum_tok, budget) rows, unordered.
    */
  private[queries] def tokenBudgetSelect(d: DataFrame,
      key: String = "source"): DataFrame = {
      val stats = d.groupBy(key)
        .agg(sum(col("n_tok")).as("tok_src"))
        .withColumn("sqrt_d",
          sqrt(col("tok_src").cast("double")).cast(DecimalType(18, 9)))
      val total = stats.agg(sum(col("sqrt_d")).as("total_d"))
      val budgets = stats.crossJoin(broadcast(total))
        .select(col(key),
          greatest(lit(1L),
            floor(lit(mixTokT.toDouble) *
              (col("sqrt_d").cast("double") /
                col("total_d").cast("double"))).cast(LongType))
            .as("budget"))
      val summed = graft.operators.GlobalOrder.withGlobalCumSum(
        d, Seq(col(key), col("doc_id")), "n_tok", "cum")
      // per-key exclusive prefix offset: cum − n_tok is the global
      // sum BEFORE each row, minimized at the key's first row
      val offs = summed.groupBy(key)
        .agg(min(col("cum") - col("n_tok")).as("__off"))
      summed.join(broadcast(offs), key)
        .withColumn("cum_tok", col("cum") - col("__off"))
        .join(broadcast(budgets), key)
        .filter(col("cum_tok") - col("n_tok") < col("budget"))
        .select(col(key), col("doc_id"), col("n_tok"),
          col("cum_tok"), col("budget"))
  }

  private val t22 = QueryDef(
    "t22_token_budget_mixture",
    (s, dir) => tokenBudgetSelect(
      docs(s, dir).select(col("source"), col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tok")))
      .orderBy("source", "doc_id"),
    Some(s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |), stats AS (
       |  SELECT source, SUM(n_tok) AS tok_src,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM d GROUP BY source
       |), budgets AS (
       |  SELECT source,
       |    GREATEST(1, CAST(FLOOR($mixTokT *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS budget
       |  FROM stats
       |), c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM d
       |)
       |SELECT c.source, c.doc_id, c.n_tok, c.cum_tok, b.budget
       |FROM c JOIN budgets b USING (source)
       |WHERE c.cum_tok - c.n_tok < b.budget
       |ORDER BY source, doc_id""".stripMargin))

  // --------------------------------------------------------------- T23
  // EPOCH mixture with a repeat cap — the data-constrained-scaling
  // knob (Muennighoff 2023; the LLaMA-recipe up-sampling): when the
  // temperature-flattened token budget b_i = ⌊α·Σtok·w_i⌋ EXCEEDS a
  // low-resource source's token count, the source REPEATS — e_i =
  // min(maxRep, b_i div tok_i) full epochs (every doc, epochs 1..e_i)
  // plus a partial epoch (e_i + 1) filled greedily by ascending doc_id
  // under the remaining budget (the t22 prefix rule) — while a
  // high-resource source subsets (e_i = 0, partial epoch only = the
  // t22 shape). The cap bounds up-sampling: past ~4 repeats extra
  // epochs of the same tokens stop buying loss (the data-constrained
  // scaling result), so r_i is zeroed when the cap binds. α = 2 makes
  // the op non-vacuous at every SF by construction (the total budget
  // is 2× the corpus, so sources at/below the mean repeat).
  //
  // Scale shape: the epochs/budgets table is G-row and BROADCASTS;
  // full epochs are one explode(sequence(1, e_i)) — output ≤ maxRep×
  // corpus, linear; the partial epoch rides the same t9 distributed
  // prefix sum as t22 (no per-source window). All budget arithmetic
  // follows the t22/t16 DECIMAL(18,9) + left-assoc double discipline,
  // integer div for epoch counts — bit-identical cross-engine.
  private[queries] val epochAlpha = 2.0
  private[queries] val epochMaxRep = 3L

  private val t23 = QueryDef(
    "t23_epoch_mixture",
    (s, dir) => {
      val d = docs(s, dir).select(col("source"), col("doc_id"),
        size(words(col("text"))).cast(LongType).as("n_tok"))
      val stats = d.groupBy("source")
        .agg(sum(col("n_tok")).as("tok_src"))
        .withColumn("sqrt_d",
          sqrt(col("tok_src").cast("double")).cast(DecimalType(18, 9)))
      val total = stats.agg(sum(col("sqrt_d")).as("total_d"),
        sum(col("tok_src")).as("tot_all"))
      val eb = stats.crossJoin(broadcast(total))
        .withColumn("budget",
          greatest(lit(1L), floor(lit(epochAlpha) *
            col("tot_all").cast("double") *
            (col("sqrt_d").cast("double") / col("total_d").cast("double")))
            .cast(LongType)))
        .withColumn("e_full",
          least(lit(epochMaxRep), expr("budget div tok_src")))
        .withColumn("rem",
          when(col("e_full") < epochMaxRep,
            col("budget") - col("e_full") * col("tok_src"))
            .otherwise(lit(0L)))
        .select("source", "tok_src", "budget", "e_full", "rem")
      val full = d.join(broadcast(eb.filter(col("e_full") >= 1)), "source")
        .select(col("source"), col("doc_id"),
          explode(sequence(lit(1L), col("e_full"))).as("epoch"),
          col("n_tok"))
      val summed = graft.operators.GlobalOrder.withGlobalCumSum(
        d, Seq(col("source"), col("doc_id")), "n_tok", "cum")
      val offs = summed.groupBy("source")
        .agg(min(col("cum") - col("n_tok")).as("__off"))
      val partial = summed.join(broadcast(offs), "source")
        .withColumn("cum_tok", col("cum") - col("__off"))
        .join(broadcast(eb), "source")
        .filter(col("cum_tok") - col("n_tok") < col("rem"))
        .select(col("source"), col("doc_id"),
          (col("e_full") + 1L).as("epoch"), col("n_tok"))
      full.unionByName(partial).orderBy("source", "doc_id", "epoch")
    },
    Some(s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents
       |), stats AS (
       |  SELECT source, SUM(n_tok) AS tok_src,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM d GROUP BY source
       |), eb AS (
       |  SELECT source, tok_src,
       |    GREATEST(1, CAST(FLOOR($epochAlpha *
       |      CAST(SUM(tok_src) OVER () AS DOUBLE) *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS budget
       |  FROM stats
       |), eb2 AS (
       |  SELECT source, tok_src, budget,
       |    CAST(LEAST($epochMaxRep, budget // tok_src) AS BIGINT) AS e_full,
       |    CAST(CASE WHEN LEAST($epochMaxRep, budget // tok_src) < $epochMaxRep
       |         THEN budget - LEAST($epochMaxRep, budget // tok_src) * tok_src
       |         ELSE 0 END AS BIGINT) AS rem
       |  FROM eb
       |), full_ AS (
       |  SELECT d.source, d.doc_id, CAST(g.epoch AS BIGINT) AS epoch, d.n_tok
       |  FROM d JOIN eb2 USING (source),
       |    unnest(generate_series(1, eb2.e_full)) AS g(epoch)
       |  WHERE eb2.e_full >= 1
       |), c AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM d
       |), partial AS (
       |  SELECT c.source, c.doc_id, eb2.e_full + 1 AS epoch, c.n_tok
       |  FROM c JOIN eb2 USING (source)
       |  WHERE c.cum_tok - c.n_tok < eb2.rem
       |)
       |SELECT source, doc_id, epoch, n_tok FROM full_
       |UNION ALL
       |SELECT source, doc_id, epoch, n_tok FROM partial
       |ORDER BY source, doc_id, epoch""".stripMargin))

  // --------------------------------------------------------------- T24
  // QUALITY-greedy token-budget fill — the curriculum/selection shape
  // of the FineWeb-Edu class of pipelines: under each source's
  // √-temperature token budget (t22's budgets), take the BEST
  // documents first — the fill order is (quality_score desc, doc_id),
  // not ascending doc_id — so the selected set is each source's
  // highest-quality prefix that fits the budget. Reuses t2's scoring
  // columns (cross-engine-exact ratio arithmetic, so the DESC ordering
  // agrees bit-for-bit; doc_id breaks ties) and the t22 machinery: the
  // per-source running token count is the t9 distributed prefix sum
  // over the (source, score desc, doc_id) range order — a source's
  // first row in the global order is its best document, so the same
  // min(cum − n_tok) exclusive-offset trick applies — and the G-row
  // budget/offset tables broadcast. No per-source window (plan-gated
  // with t22's).
  private val t24 = QueryDef(
    "t24_quality_budget_fill",
    (s, dir) => {
      val d = docs(s, dir)
        .select(col("source") +: col("doc_id") +: qualityColumns("text"): _*)
        .select(col("source"), col("doc_id"), col("quality_score"),
          col("n_words").cast(LongType).as("n_tok"))
      val stats = d.groupBy("source")
        .agg(sum(col("n_tok")).as("tok_src"))
        .withColumn("sqrt_d",
          sqrt(col("tok_src").cast("double")).cast(DecimalType(18, 9)))
      val total = stats.agg(sum(col("sqrt_d")).as("total_d"))
      val budgets = stats.crossJoin(broadcast(total))
        .select(col("source"),
          greatest(lit(1L),
            floor(lit(mixTokT.toDouble) *
              (col("sqrt_d").cast("double") /
                col("total_d").cast("double"))).cast(LongType))
            .as("budget"))
      val summed = graft.operators.GlobalOrder.withGlobalCumSum(
        d, Seq(col("source"), col("quality_score").desc, col("doc_id")),
        "n_tok", "cum")
      val offs = summed.groupBy("source")
        .agg(min(col("cum") - col("n_tok")).as("__off"))
      summed.join(broadcast(offs), "source")
        .withColumn("cum_tok", col("cum") - col("__off"))
        .join(broadcast(budgets), "source")
        .filter(col("cum_tok") - col("n_tok") < col("budget"))
        .select(col("source"), col("doc_id"), col("quality_score"),
          col("n_tok"), col("cum_tok"), col("budget"))
        .orderBy("source", "doc_id")
    },
    Some(s"""WITH d AS (
       |  SELECT source, doc_id,
       |    (CAST(n_stopwords AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.5
       |      + (CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)) * 0.1
       |      AS quality_score,
       |    CAST(n_words AS BIGINT) AS n_tok
       |  FROM (
       |    SELECT source, doc_id,
       |      len(string_split(text,' ')) AS n_words,
       |      ${oHits(Seq("the", "a", "of"))} AS n_stopwords,
       |      length(replace(text, ' ', '')) AS n_alpha
       |    FROM documents)
       |), stats AS (
       |  SELECT source, SUM(n_tok) AS tok_src,
       |    CAST(sqrt(CAST(SUM(n_tok) AS DOUBLE)) AS DECIMAL(18,9)) AS sqrt_d
       |  FROM d GROUP BY source
       |), budgets AS (
       |  SELECT source,
       |    GREATEST(1, CAST(FLOOR($mixTokT *
       |      (CAST(sqrt_d AS DOUBLE) / CAST(SUM(sqrt_d) OVER () AS DOUBLE)))
       |      AS BIGINT)) AS budget
       |  FROM stats
       |), c AS (
       |  SELECT source, doc_id, quality_score, n_tok,
       |    CAST(SUM(n_tok) OVER (PARTITION BY source
       |      ORDER BY quality_score DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tok
       |  FROM d
       |)
       |SELECT c.source, c.doc_id, c.quality_score, c.n_tok, c.cum_tok,
       |  b.budget
       |FROM c JOIN budgets b USING (source)
       |WHERE c.cum_tok - c.n_tok < b.budget
       |ORDER BY source, doc_id""".stripMargin))

  // --------------------------------------------------------------- T25
  // EMBEDDING-SPACE decontamination (r18) — the semantic complement to
  // t6 (verbatim 4-grams) and t20 (fuzzy/edited spans): paraphrased
  // eval leakage shares no n-grams but lands close in embedding space.
  // Machinery and scale analysis live with s2/s7
  // ([[SimilarityOps.decontamPairs]]): the suite-sized eval holdout
  // broadcasts through the occupancy-keyed LSH range search, the
  // corpus streams, the radius filter is map-side. Oracle: tap-based —
  // DuckDB re-scores every candidate with the exact fold and
  // re-applies the radius. [[applyDecontam]] is the pipeline seam: the
  // flagged doc set anti-joins a corpus frame exactly like t6's flag
  // does inside p1/p3 (composition spec-gated in TextOpsSpec).
  private val t25 = QueryDef(
    "t25_embedding_decontam",
    (s, dir) => SimilarityOps.decontamPairs(s, dir, "t25_cand")
      .orderBy("doc_id", "eval_id"),
    Some(s"""WITH cand AS (
       |  SELECT qid, vec_id, qe, embedding
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/t25_cand/*.parquet')
       |), scored AS (
       |  SELECT qid, vec_id,
       |    list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(qe[i]::DOUBLE)*(qe[i]::DOUBLE) for i in range(1, len(qe)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE) for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |)
       |SELECT vec_id AS doc_id, qid AS eval_id, cosine
       |FROM scored WHERE cosine >= ${SimilarityOps.decontamR}
       |ORDER BY doc_id, eval_id""".stripMargin))

  // --------------------------------------------------------------- T26
  // DETERMINISTIC SHARD SHUFFLE (r18) — the export step every training
  // run ends with: scatter the corpus into S shards in a seeded
  // pseudorandom order so data loaders stream shards sequentially and
  // still see a shuffled corpus. A global ORDER BY rand() is the naive
  // shape (one total sort, unreproducible); this is the scalable one:
  // a seeded multiplicative Fibonacci hash (Knuth §6.4: k = (doc_id +
  // seed)·2654435761 mod 2³²) gives every doc a deterministic
  // pseudorandom key, the shard is the key's TOP 3 bits (the low bits
  // of a multiplicative hash mod 2^w are a mere permutation of the
  // input's low bits — sequential ids would stripe round-robin; the
  // high bits mix), and the within-shard position is the grouped range
  // rank on (k, doc_id) — GlobalOrder's two-job rank, never a
  // per-shard window wall. Reproducible across engines, reruns, and
  // cluster sizes (pure arithmetic — no partitioner dependence);
  // re-seeding re-deals every epoch. Scale: one narrow projection +
  // one range-partitioned rank; at 100 TB the sort key is 16 bytes/row.
  private[queries] val shardSeed = 7L
  // ⌊2³¹/φ⌋, odd. A 31-bit multiplier, NOT the classic 32-bit
  // 2654435761: the id is pre-reduced mod 2³² (below), and
  // (2³²−1)·2654435761 ≈ 1.1e19 overflows int64 — ANSI Spark throws
  // and DuckDB errors the same way — which a real corpus hits as soon
  // as doc ids pass ~3.5e9 rows (found at the sf1 scale probe, r18).
  // (2³²−1)·1327217885 ≈ 5.7e18 stays inside int64 on both engines;
  // an odd multiplier mod a power of two mixes the top bits the same
  // way (Knuth §6.4).
  private[queries] val shardMult = 1327217885L
  private[queries] val shardMod = 4294967296L // 2³²
  private[queries] val shardDiv = 536870912L // 2²⁹ → 8 shards (top 3 bits)
  private val t26 = QueryDef(
    "t26_shard_shuffle",
    (s, dir) => {
      val keyed = Tables.load(s, dir, "documents").select(col("doc_id"))
        .withColumn("k",
          pmod(pmod(col("doc_id") + lit(shardSeed), lit(shardMod)) *
            lit(shardMult), lit(shardMod)))
        // exact: k < 2³² and the divisor is a power of two, so the
        // double quotient is exact and floor matches integer division
        .withColumn("shard",
          floor(col("k") / lit(shardDiv.toDouble)).cast(LongType))
      graft.operators.GlobalOrder.withGroupedRank(
          keyed, Seq("shard"), Seq(col("k"), col("doc_id")), "pos")
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },
    Some(s"""WITH keyed AS (
       |  SELECT doc_id,
       |    (((doc_id + $shardSeed) % $shardMod) * $shardMult) % $shardMod AS k
       |  FROM documents
       |)
       |SELECT CAST(k // $shardDiv AS BIGINT) AS shard,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY k // $shardDiv ORDER BY k, doc_id) AS BIGINT)
       |    AS pos,
       |  doc_id
       |FROM keyed
       |ORDER BY shard, pos""".stripMargin))

  // --------------------------------------------------------------- T27
  // DSIR-style importance selection (Xie et al., "Data Selection for
  // Language Models via Importance Resampling", NeurIPS 2023): score
  // every document by how much it resembles a TARGET distribution
  // (here: the lang='en' slice — in production, a trusted high-quality
  // corpus) under hashed-n-gram bag-of-words models, and keep the
  // top-quarter by log importance weight. The classic data-selection
  // complement of t21's trained classifier and t24's intrinsic quality
  // score: no labels and no training loop, just two count aggregations.
  //
  //   logw(doc) = Σ_b c_doc(b) · ln( p̂_target(b) / p̂_raw(b) )
  //
  // with b = md5-hashed token buckets (B=512) and Laplace-smoothed
  // per-bucket probabilities. Scale: token→bucket hashing is map-side;
  // the bucket statistics table is B-bounded (one partial-agg pass,
  // broadcast back — never data-sized); per-doc scoring is one
  // partial-agg sum; selection rides the two-job global rank, never a
  // single-reducer window. Cross-engine determinism: the only
  // transcendental (ln of an exact-integer rational) is quantized to
  // DECIMAL(18,9) BEFORE the weighted sum (the t13/t17 grid
  // discipline), so logw is an EXACT decimal and the rank order is
  // engine-independent; the final cast to double is exact (unscaled
  // values ≪ 2⁵³).
  private[queries] val dsirB = 512L // hash buckets

  /** t27's scoring stage: (doc_id, lang, lw) with lw the exact-decimal
    * DSIR log importance weight. A named seam so the spec can gate the
    * stage's plan (the rank's RDD boundary hides it from the final
    * plan) and so pipelines can reuse the score without the selection.
    */
  private[queries] def dsirScores(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = dsirScoresOver(docs(s, dir))

  /** t27's scoring over an arbitrary (doc_id, lang, text) frame — the
    * pipeline seam (p5 scores its deduped train slice, building the
    * target/raw models from exactly the corpus being selected from).
    */
  private[queries] def dsirScoresOver(d: DataFrame): DataFrame = {
    val bucket = conv(substring(md5(col("w").cast("binary")), 1, 6),
      16, 10).cast(LongType) % dsirB
    val feat = graft.operators.ScratchCache.scratch(
      d.select(col("doc_id"), col("lang"),
          explode(words(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("lang"), bucket.as("b"))
        .agg(count(lit(1)).as("c")))
    val isTgt = col("lang") === "en"
    val bstat = feat.groupBy("b")
      .agg(sum(when(isTgt, col("c")).otherwise(0L)).as("ct"),
        sum(col("c")).as("cr"))
    val tot = feat.agg(
      sum(when(isTgt, col("c")).otherwise(0L)).as("nt"),
      sum(col("c")).as("nr"))
    val lam = bstat.crossJoin(broadcast(tot))
      .select(col("b"), log(
        ((col("ct") + 1L).cast(DoubleType) /
          (col("cr") + 1L).cast(DoubleType)) *
        ((col("nr") + dsirB).cast(DoubleType) /
          (col("nt") + dsirB).cast(DoubleType)))
        .cast(DecimalType(18, 9)).as("lam"))
    feat.join(broadcast(lam), "b")
      .groupBy("doc_id", "lang")
      // c as DECIMAL(10,0): a raw long would push the product past
      // precision 38 and Spark silently drops scale (rounds) to fit,
      // while DuckDB keeps (38,9) — the narrower operand keeps both
      // engines' products exact at scale 9
      .agg(sum(col("c").cast(DecimalType(10, 0)) * col("lam")).as("lw"))
  }

  private val t27 = QueryDef(
    "t27_dsir_select",
    (s, dir) => {
      // pin the doc-sized (24 B/row) scores frame: withGlobalRank
      // traverses its input three times (range sampling, zipWithIndex
      // count job, final action) and would re-run the whole
      // explode+agg scoring pipeline each time (measured 12.4 → 4.5 s
      // at sf1)
      val scores = graft.operators.ScratchCache.scratch(dsirScores(s, dir))
      val ranked = graft.operators.GlobalOrder.withGlobalRank(
        scores, Seq(col("lw").desc, col("doc_id")), "rnk")
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .filter(col("rnk") <= ((col("n") + 3L) / 4L).cast(LongType))
        .select(col("doc_id"), col("lang"),
          col("lw").cast(DoubleType).as("logw"), col("rnk"))
        .orderBy("rnk")
    },
    Some(s"""WITH feat AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(w),1,6))::BIGINT % $dsirB AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w
       |        FROM documents)
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
       |      * ((nr+$dsirB)::DOUBLE / (nt+$dsirB)::DOUBLE))
       |    AS DECIMAL(18,9)) AS lam
       |  FROM bstat, tot
       |), logw AS (
       |  SELECT f.doc_id, f.lang,
       |    SUM(CAST(f.c AS DECIMAL(10,0)) * l.lam) AS lw
       |  FROM feat f JOIN lam l USING (b)
       |  GROUP BY f.doc_id, f.lang
       |), ranked AS (
       |  SELECT doc_id, lang, lw,
       |    CAST(ROW_NUMBER() OVER (ORDER BY lw DESC, doc_id) AS BIGINT)
       |      AS rnk
       |  FROM logw
       |)
       |SELECT doc_id, lang, CAST(lw AS DOUBLE) AS logw, rnk
       |FROM ranked, (SELECT COUNT(*) AS n FROM documents) t
       |WHERE rnk <= (t.n + 3) // 4
       |ORDER BY rnk""".stripMargin))

  // --------------------------------------------------------------- T28
  // Deterministic weighted sampling WITHOUT replacement (Efraimidis &
  // Spirakis, "Weighted random sampling with a reservoir", IPL 2006):
  // draw K documents with inclusion probability proportional to a
  // per-doc weight (here n_chars — size-proportional sampling, the
  // shape behind "sample an evaluation slice weighted by token mass").
  // The A-ES key u^(1/w) — equivalently ln(u)/w, maximized — turns the
  // draw into a top-K: no sequential reservoir, no per-stratum
  // pre-counting, no RNG state. u comes from a seeded md5 of the doc
  // key, so the SAME sample falls out at any parallelism, on any
  // engine, on every rerun (the q42/t10 reproducibility discipline —
  // `rand()` can never be replayed or audited). Selection is the
  // bounded-heap TopKByScore aggregate: ≤ K rows cross each partition
  // boundary, no corpus sort, no window — at 100 TB this is one scan
  // plus a K-row reduce. Cross-engine determinism: ln(u) is quantized
  // to DECIMAL(18,9) (the t13/t17 grid), and the key is ONE IEEE
  // division of bit-identical operands, so both engines rank the same.
  private[queries] val wsK = 100
  private val t28 = QueryDef(
    "t28_weighted_sample",
    (s, dir) => {
      val u = (conv(substring(
          md5(concat(lit("s28"), col("doc_id").cast("string"))
            .cast("binary")), 1, 6), 16, 10).cast(LongType)
          .cast(DoubleType) + 0.5) / 16777216.0
      val keyed = docs(s, dir).select(col("doc_id"),
        (log(u).cast(DecimalType(18, 9)).cast(DoubleType) /
          greatest(col("n_chars"), lit(1L)).cast(DoubleType))
          .as("skey"))
      keyed
        .agg(graft.functions.TopKAggregate
          .topKByScore(col("skey"), col("doc_id"), wsK).as("top"))
        .select(posexplode(col("top")))
        .select(col("col.id").as("doc_id"), col("col.score").as("skey"),
          (col("pos") + 1).cast(LongType).as("rnk"))
        .orderBy("rnk")
    },
    Some(s"""WITH keyed AS (
       |  SELECT doc_id,
       |    CAST(CAST(ln(
       |        ((('0x' || substr(md5('s28' || CAST(doc_id AS VARCHAR)),1,6))::BIGINT)::DOUBLE + 0.5)
       |        / 16777216.0)
       |      AS DECIMAL(18,9)) AS DOUBLE)
       |      / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS skey
       |  FROM documents
       |)
       |SELECT doc_id, skey,
       |  CAST(ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) AS BIGINT)
       |    AS rnk
       |FROM keyed
       |QUALIFY rnk <= $wsK
       |ORDER BY rnk""".stripMargin))

  // --------------------------------------------------------------- T29
  // RECIPROCAL RANK FUSION quality ensemble (Cormack/Clarke/Büttcher,
  // SIGIR 2009): no single quality signal is trustworthy alone — the
  // intrinsic score (t2) rewards stopword-stuffed boilerplate, the
  // DSIR weight (t27) rewards target-lookalikes, repetition (t7's
  // ratio) only catches one failure mode — so production selection
  // fuses RANKS, not raw scores (scores live on incomparable scales;
  // ranks are scale-free): rrf(d) = Σ_s 1/(C + rank_s(d)), C = 60, and
  // the top-K by fused score is the kept set. Scale: each signal ranks
  // a NARROW doc-sized frame through the two-job global rank (no
  // window, no corpus-wide sort of wide rows); the fusion join is
  // doc-sized×3 on doc_id; final selection is the bounded-heap top-K
  // with the three rank columns re-attached by a K-row broadcast
  // join. Cross-engine: ranks are exact integers (score orders are the
  // t24-class per-row doubles and t27's exact decimal), and rrf is a
  // fixed three-term IEEE sum of reciprocals of exact integers —
  // bit-identical on both engines.
  private[queries] val rrfC = 60L
  private[queries] val rrfK = 50
  private val t29 = QueryDef(
    "t29_rank_fusion",
    (s, dir) => {
      import graft.operators.GlobalOrder.withGlobalRank
      val d = docs(s, dir)
      val q = d.select(col("doc_id") +: qualityColumns("text"): _*)
        .select(col("doc_id"), col("quality_score"))
      val rq = withGlobalRank(q,
        Seq(col("quality_score").desc, col("doc_id")), "r_q")
        .select(col("doc_id"), col("r_q"))
      val rd = withGlobalRank(
        graft.operators.ScratchCache.scratch(dsirScores(s, dir))
          .select(col("doc_id"), col("lw")),
        Seq(col("lw").desc, col("doc_id")), "r_d")
        .select(col("doc_id"), col("r_d"))
      val w = words(col("text"))
      val rep = d.select(col("doc_id"),
        (lit(1.0) - size(array_distinct(w)).cast(DoubleType) /
          size(w).cast(DoubleType)).as("dup_ratio"))
      val rr = withGlobalRank(rep,
        Seq(col("dup_ratio").asc, col("doc_id")), "r_r")
        .select(col("doc_id"), col("r_r"))
      // pinned: fused feeds the top-K aggregate AND the final re-join —
      // unpinned, the second action replays the three rank pipelines
      // and the fusion join (the t27/p5 re-execution class, same fix)
      val fused = graft.operators.ScratchCache.scratch(
        rq.join(rd, "doc_id").join(rr, "doc_id")
          .withColumn("rrf",
            lit(1.0) / (col("r_q") + rrfC).cast(DoubleType) +
            lit(1.0) / (col("r_d") + rrfC).cast(DoubleType) +
            lit(1.0) / (col("r_r") + rrfC).cast(DoubleType)))
      val top = fused
        .agg(graft.functions.TopKAggregate
          .topKByScore(col("rrf"), col("doc_id"), rrfK).as("top"))
        .select(posexplode(col("top")))
        .select(col("col.id").as("doc_id"),
          (col("pos") + 1).cast(LongType).as("rank"))
      fused.join(broadcast(top), "doc_id")
        .select(col("doc_id"), col("r_q"), col("r_d"), col("r_r"),
          col("rrf"), col("rank"))
        .orderBy("rank")
    },
    Some(s"""WITH feat AS (
       |  SELECT doc_id, lang,
       |    ('0x' || substr(md5(w),1,6))::BIGINT % $dsirB AS b,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS w
       |        FROM documents)
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
       |      * ((nr+$dsirB)::DOUBLE / (nt+$dsirB)::DOUBLE))
       |    AS DECIMAL(18,9)) AS lam
       |  FROM bstat, tot
       |), logw AS (
       |  SELECT f.doc_id,
       |    SUM(CAST(f.c AS DECIMAL(10,0)) * l.lam) AS lw
       |  FROM feat f JOIN lam l USING (b)
       |  GROUP BY f.doc_id
       |), quality AS (
       |  SELECT doc_id,
       |    (CAST(${oHits(Seq("the", "a", "of"))} AS DOUBLE)
       |       / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.5
       |    + (CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |       / CAST(len(string_split(text,' ')) AS DOUBLE)) * 0.1
       |      AS quality_score
       |  FROM documents
       |), rep AS (
       |  SELECT doc_id,
       |    1.0 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
       |      / CAST(len(string_split(text,' ')) AS DOUBLE) AS dup_ratio
       |  FROM documents
       |), rq AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY quality_score DESC, doc_id) AS BIGINT) AS r_q
       |  FROM quality
       |), rd AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY lw DESC, doc_id) AS BIGINT) AS r_d
       |  FROM logw
       |), rr AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
       |    ORDER BY dup_ratio ASC, doc_id) AS BIGINT) AS r_r
       |  FROM rep
       |), fused AS (
       |  SELECT doc_id, r_q, r_d, r_r,
       |    1.0/CAST(r_q + $rrfC AS DOUBLE)
       |      + 1.0/CAST(r_d + $rrfC AS DOUBLE)
       |      + 1.0/CAST(r_r + $rrfC AS DOUBLE) AS rrf
       |  FROM rq JOIN rd USING (doc_id) JOIN rr USING (doc_id)
       |)
       |SELECT doc_id, r_q, r_d, r_r, rrf, rank FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (
       |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
       |  FROM fused
       |) WHERE rank <= $rrfK ORDER BY rank""".stripMargin))

  /** The t25 pipeline seam: drop every flagged document from a corpus
    * frame (doc_id-keyed anti-join; `pairs` is t25's output shape or
    * any (doc_id, ...) flag set).
    */
  private[graft] def applyDecontam(corpus: DataFrame,
      pairs: DataFrame): DataFrame =
    corpus.join(pairs.select("doc_id").distinct(), Seq("doc_id"),
      "left_anti")

  override val queries: Seq[QueryDef] =
    Seq(t1, t2, t3, t4, t5, t6, t7, t8, t9, t10, t11, t12, t13, t14, t15,
      t16, t17, t18, t19, t20, t21, t22, t23, t24, t25, t26, t27, t28,
      t29)
}
