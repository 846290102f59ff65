package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.HashFunctions._
import graft.functions.VectorFunctions
import graft.sources.Tables
import graft.state.SegmentLedger

/** Deduplication operators over `documents`/`embeddings` (SURVEY §2.3
  * D1–D5). Scale design notes per operator:
  *
  *  - D1 exact: one hash-groupBy — partial agg makes the shuffle tiny.
  *  - D2 Jaccard: PPJoin-style prefix filtering (Xiao/Wang/Lin/Yu,
  *    "Efficient similarity joins for near duplicate detection",
  *    WWW 2008) under a global total token order — lossless for J ≥ t, and the
  *    candidate join only touches each record's rare-token prefix, so the
  *    O(n²) all-pairs join never materializes. Verification joins
  *    candidates back to the full shingle sets (exact `array_intersect`).
  *  - D3 MinHash+LSH: banding turns near-dup search into an equi-join on
  *    (band, bucket); estimation is signature-only. Map-side sketching,
  *    one shuffle on band keys.
  *  - D4 SimHash: 64-bit sketch + pigeonhole blocking (8 blocks of 8
  *    bits ⇒ every pair with hamming ≤ 7 shares ≥ 1 exact block).
  *  - D5 embedding cosine: exact baseline via broadcast nested-loop over
  *    the (always broadcastable) right side; the bounded-candidate scale
  *    path is S2/S3's LSH/IVF bucketing.
  */
object DedupOps extends QueryGroup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** (doc_id, sh: sorted distinct word-3-gram shingle KEYS as longs,
    * n). Keys are built by hash-combining per-word hashes (hash each
    * word once, xxhash64 over 3 consecutive word hashes) — no shingle
    * STRING is ever materialized, and every downstream compare, shuffle
    * and intersect operates on 8-byte longs. Same words ⇒ same key;
    * numeric order is as valid a total order for prefix filtering as
    * lexicographic (any total order is lossless); a 64-bit collision
    * across a corpus' shingle vocabulary is ~2⁻⁶⁴ per pair — far below
    * the driver-measured tolerance.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    // native single-pass gram builder (one primitive loop per doc);
    // the HOF twin lives in FunctionsSpec as the bit-exact reference
    docs(s, dir)
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashes(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          3, distinctSorted = true)).as("sh"))
      .withColumn("n", size(col("sh")))

  // ---------------------------------------------------------------- D1
  // Exact dedup ledger: content hash → keeper id + copy count. Never
  // empty (one row per distinct content), so it doubles as the keep-list.
  private val d1 = QueryDef(
    "d1_dedup_exact",
    (s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("content_hash"),
    Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin))

  // ---------------------------------------------------------------- D2
  // Near-dup pairs with word-3-gram Jaccard ≥ 0.8, via prefix filtering:
  // under any global total order, J(x,y) ≥ t implies the first
  // |x|−⌈t|x|⌉+1 tokens of x and of y share an element. Ordering tokens
  // by ascending document frequency keeps prefix buckets tiny.
  private[queries] val jaccardT = 0.8

  /** Verified near-dup pairs (i < j, Jaccard ≥ [[jaccardT]]) — shared by
    * d2 (reported directly) and d6/d7 (edge set for clustering).
    * Delegates to [[graft.operators.JaccardNearDup]] with the prefix
    * ordering AUTO-SELECTED from corpus size: driver SFs keep the
    * zero-extra-shuffle token order; a corpus-scale run gets the
    * hot-demoted prefix — the skew armor for Zipfian shingle
    * distributions (BASELINE §skew, §sf10 r14). Identical results
    * either way (spec-proven), so the switch affects the plan only.
    */
  private[queries] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardNearDup.pairsAuto(
      shingled(s, dir), "doc_id", "sh", jaccardT,
      CorpusStats.nDocs(s, dir))

  /** Shared oracle CTEs: shingle sets, token explode, sizes, pair
    * overlap counts (the naive all-pairs twin of the prefix-filtered
    * Spark plan).
    */
  private[queries] val pairCtes =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
      |                   for i in range(1, len(words)-1)]) AS sh
      |  FROM (SELECT doc_id, string_split(text,' ') AS words FROM documents)
      |), tok AS (SELECT doc_id, unnest(sh) AS t FROM sh),
      |cnt AS (SELECT doc_id, len(sh) AS n FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
      |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  private val d2 = QueryDef(
    "d2_dedup_ngram_jaccard",
    (s, dir) => jaccardPairs(s, dir).orderBy("i", "j"),
    Some(s"""WITH $pairCtes
       |SELECT i, j, shared,
       |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= $jaccardT
       |ORDER BY i, j""".stripMargin))

  // ---------------------------------------------------------------- D3
  // MinHash (k=64) + LSH banding (16 bands × 4 rows) for CANDIDATE
  // generation — one equi-join on (band, key), never all-pairs — then
  // EXACT Jaccard verification of the candidates against the shingle
  // sets (the same verify stage as D2/JaccardNearDup). The output is
  // therefore exact {(i,j,jaccard) : J ≥ t AND LSH surfaced the pair};
  // with 16×4 banding the per-pair miss probability at J = 0.8 is
  // 1−(1−0.8⁴)¹⁶ ≈ 2·10⁻⁴, so the result coincides with the all-pairs
  // truth and the same DuckDB oracle as d2 hash-verifies it.
  //
  // The k min-hashes are computed by explode + 64 codegen'd min
  // aggregates (the same trick as simhashSigs): partial-agg friendly
  // and no boxed HOF folds — the per-row `array_min(transform(...))`
  // formulation stays available as HashFunctions.minhashSignature.
  private[graft] val mhK = 64
  private[graft] val mhBands = 16
  private[graft] val mhRows = 4
  private val d3 = QueryDef(
    "d3_dedup_minhash_lsh",
    (s, dir) => {
      // no-broadcast discipline above the armor threshold (the
      // JaccardNearDup.pairsAuto size key): Catalyst's size-only
      // estimates undervalue the computed set/gid tables enough to
      // plan corpus-sized broadcasts — the sf10 probe (500k docs) died
      // on the driver's broadcast-build guard in the verification
      // joins. At driver SFs those broadcasts are genuinely optimal,
      // so the hints are size-keyed exactly like the d2 armor.
      def nb(df: DataFrame): DataFrame =
        if (CorpusStats.nDocs(s, dir) >=
          graft.operators.JaccardNearDup.largeCorpusMinDocs) df.hint("merge")
        else df
      val members = graft.operators.ScratchCache.scratch(shingled(s, dir))
      // signature build, banding and verification run over UNIQUE
      // shingle sets (identical sets ⇒ identical signatures ⇒ they
      // collide in EVERY band, so within-group pairs are LSH-surfaced
      // by construction) — the same dup-heavy armor as d2/d4: a
      // mass-duplicate group would otherwise go quadratic inside the
      // band join. Row pairs are recovered after verification.
      val sets = graft.operators.ScratchCache.scratch(
        members.groupBy("sh", "n").agg(min(col("doc_id")).as("doc_id")))
      // shingles are already hashed longs; permutation i = xxhash64(i, h)
      val tok = sets.select(col("doc_id"), explode(col("sh")).as("h"))
      val sig = tok.groupBy("doc_id")
        .agg(min(xxhash64(lit(0), col("h"))).as("m0"),
          (1 until mhK).map(i =>
            min(xxhash64(lit(i), col("h"))).as(s"m$i")): _*)
        .select(col("doc_id"),
          array((0 until mhK).map(i => col(s"m$i")): _*).as("sig"))
      // multi-band dedup is the d8 first-collision filter, not a
      // distinct over the candidate-pair set: a pair colliding in k of
      // the bands leaves the self-join only at its first shared band
      // (exactly the distinct's output, no pair-set shuffle).
      // Sort-merge for the same reasons as d8: an n·bands-row
      // self-join side never fits a broadcast at corpus scale, and the
      // merge's sort spills where a hash build would OOM.
      val bands = sig
        .select(col("doc_id"), bandKeys(col("sig"), mhBands, mhRows).as("keys"))
        .select(col("doc_id"), col("keys"), posexplode(col("keys")))
        .toDF("doc_id", "keys", "band", "key")
      val cand = bands.as("a").join(bands.as("b").hint("merge"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id") &&
          graft.functions.VectorFunctions.firstEqualIndex(
            col("a.keys"), col("b.keys")) === col("a.band"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      // exact verification: join candidates back to the shingle sets and
      // keep true-Jaccard ≥ t only — no estimates ship
      val setPairs = cand
        .join(nb(sets.select(col("doc_id").as("i"), col("sh").as("sha"),
          col("n").as("na"))), "i")
        .join(nb(sets.select(col("doc_id").as("j"), col("sh").as("shb"),
          col("n").as("nb"))), "j")
        .withColumn("shared", org.apache.spark.sql.GraftBridge.column(
          graft.functions.SortedLongIntersectCount(
            org.apache.spark.sql.GraftBridge.expression(col("sha")),
            org.apache.spark.sql.GraftBridge.expression(col("shb")))))
        .withColumn("jaccard",
          col("shared").cast("double") /
            (col("na") + col("nb") - col("shared")).cast("double"))
        .filter(col("jaccard") >= jaccardT)
        .select(col("i"), col("j"), col("shared").cast(LongType).as("shared"),
          col("jaccard"))
      val gid = members.join(
          nb(sets.select(col("sh"), col("doc_id").as("gid"))), Seq("sh"))
        .select(col("doc_id"), col("gid"), col("n"))
      val cross = setPairs
        .join(gid.select(col("gid").as("i"), col("doc_id").as("ia")), "i")
        .join(gid.select(col("gid").as("j"), col("doc_id").as("ib")), "j")
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"),
          col("shared"), col("jaccard"))
      // identical non-empty sets: every band collides, jaccard 1.0 by
      // identity; empty sets produce no tokens and never pair (as before)
      val within = gid.as("x").join(gid.as("y"),
        col("x.gid") === col("y.gid") &&
          col("x.doc_id") < col("y.doc_id") && col("x.n") > 0)
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
          col("x.n").cast(LongType).as("shared"), lit(1.0).as("jaccard"))
      cross.unionByName(within)
        .orderBy("i", "j")
    },
    Some(s"""WITH $pairCtes
       |SELECT i, j, shared,
       |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= $jaccardT
       |ORDER BY i, j""".stripMargin))

  // ---------------------------------------------------------------- D4
  // SimHash near-dup: hamming ≤ 7 over the 128-bit signature,
  // candidates via [[graft.operators.HammingNearDup.pairsWide]] —
  // 4×32-bit pigeonhole blocking (2³² keys, linear to ~10⁹ docs),
  // clearing r12's measured 64-bit-block-space quadratic (BASELINE
  // §sf10: 13.6× on 10× data). A SIZE-KEYED arm switch to lo-64
  // 16-bit-key blocking (the q36/t13/d2/d8 discipline) was the r13
  // hypothesis for small corpora — half the probe explode while
  // collisions are rare — and the head-to-head measurement FALSIFIED
  // it: on real vote-correlated signatures the 2¹⁶ key space is dense
  // at every size, and the wide arm ties at 5k docs and wins at every
  // larger point (BASELINE §skew, 6 sizes 5k→500k). So d4 ships wide
  // blocking unconditionally; d14 below keeps the narrow-blocked
  // comparison arm driver-oracled every round (the d8/d8i twin
  // pattern), so both candidate generators stay under the hash gate.
  //
  // Two-stage oracle: the signatures (Spark xxhash64 — no DuckDB twin)
  // are materialized via [[graft.sources.VerifyTap]]; DuckDB then
  // brute-forces ALL-PAIRS 128-bit hamming over them, which checks the
  // blocking's losslessness claim (every pair ≤ maxHam found, none
  // beyond) on real data, not just the property spec.
  //
  // The signature is computed by explode + packed codegen'd vote sums
  // (partial-agg friendly) rather than HOF folds per row — identical
  // bits to HashFunctions.simhash64 (same word hash, same vote rule),
  // but the hot loop stays in whole-stage codegen. ~5× at sf0.1.

  /** (doc_id, sig) via the distributed vote formulation, with PACKED
    * bit counters: 16 sum aggregates, each packing four 16-bit lanes
    * (lane j of group g counts bit 4g+j), plus one count(*) — instead
    * of 64 branchy ±1 sums. Votes derive afterwards per doc:
    * bit b set ⟺ sum(±1) > 0 ⟺ 2·c_b > n, so the bits are identical
    * to the unpacked formulation (spec-asserted). Lanes cannot carry
    * while a document has < 65 536 shingles — orders of magnitude above
    * any real document's shingle count — and the builder GUARDS the
    * assumption: a doc at or past 2¹⁶ shingles raises instead of
    * silently corrupting neighboring lanes (the guard is threaded into
    * the vote derivation so the optimizer cannot prune it; one
    * comparison per doc). The aggregation buffer shrinks
    * 65 → 17 slots, which is what the shuffle and the partial-agg
    * update loop pay for. ~1.6× at sf0.1.
    */
  private[graft] def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    // persist the shingle table before exploding: under a Generate the
    // optimizer re-inlines the gram-build HOF into the generator input
    // and the O(n²) re-evaluation comes back (measured 0.3 s → 4.8 s
    // unpersisted); corpus-sized, so it goes through ScratchCache
    // (explicit level + releasable) like every other shingled consumer
    val tok = graft.operators.ScratchCache.scratch(shingled(s, dir))
      .select(col("doc_id"), explode(col("sh")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val packedAggs = (0 until 16).map { g =>
      sum((0 until 4).map { j =>
        val bit = shiftrightunsigned(col("h"), 4 * g + j).bitwiseAND(lit(1L))
        if (j == 0) bit else shiftleft(bit, 16 * j)
      }.reduce(_ + _)).as(s"p$g")
    }
    val counts = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), packedAggs: _*)
      .withColumn("n", laneGuard(col("n"), col("doc_id")))
    val sig = (0 until 64).map { b =>
      val c = shiftrightunsigned(col(s"p${b / 4}"), 16 * (b % 4))
        .bitwiseAND(lit(0xffffL))
      when(c * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    counts.select(col("doc_id"), sig.as("sig"))
  }

  /** Loud failure for the packed-lane builders' documented limit: a
    * document with ≥ 2¹⁶ shingles would carry a 16-bit vote lane into
    * its neighbor and corrupt BOTH signature halves silently — and the
    * tap-based oracles verify pairing over the (already corrupted)
    * signatures, so the hash gate could never catch it. Threading the
    * guard through `n` (which every vote comparison reads) keeps the
    * optimizer from pruning it; cost is one comparison per document.
    */
  private[graft] def laneGuard(n: Column, docId: Column): Column =
    when(n < lit(65536L), n).otherwise(raise_error(concat(
      lit("simhash packed-lane overflow: doc "), docId.cast("string"),
      lit(" has "), n.cast("string"),
      lit(" shingles >= 65536 — votes would corrupt adjacent lanes"))))

  /** 128-bit SimHash signatures carried as two longs (`hi`, `lo`): the
    * same packed-lane vote aggregation as [[simhashSigs]], run over two
    * INDEPENDENT per-shingle hashes in the SAME single pass (one
    * explode, one partial-agg groupBy — 32 packed sums instead of 16).
    * Feeds d14's wide near-dup arm. `lo` is exactly [[simhashSigs]]'s
    * 64-bit signature (same hash, same votes — spec-asserted) EXTENDED
    * by 64 seeded-hash bits in `hi`: the wide signature refines the
    * narrow one rather than replacing it.
    */
  private[graft] def simhashSigs128(s: SparkSession,
      dir: String): DataFrame = {
    val tok = graft.operators.ScratchCache.scratch(shingled(s, dir))
      .select(col("doc_id"), explode(col("sh")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"),
        xxhash64(lit(1000003L), col("t")).as("h2"))
    def packed(hc: Column, pfx: String) = (0 until 16).map { g =>
      sum((0 until 4).map { j =>
        val bit = shiftrightunsigned(hc, 4 * g + j).bitwiseAND(lit(1L))
        if (j == 0) bit else shiftleft(bit, 16 * j)
      }.reduce(_ + _)).as(s"$pfx$g")
    }
    val counts = tok.groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        (packed(col("h"), "p") ++ packed(col("h2"), "q")): _*)
      // same packed-lane overflow guard as [[simhashSigs]] (see
      // [[laneGuard]]): d14's oracle taps these signatures, so a lane
      // carry would ship hash-green — fail loudly instead
      .withColumn("n", laneGuard(col("n"), col("doc_id")))
    def sig(pfx: String) = (0 until 64).map { b =>
      val c = shiftrightunsigned(col(s"$pfx${b / 4}"), 16 * (b % 4))
        .bitwiseAND(lit(0xffffL))
      when(c * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    counts.select(col("doc_id"), sig("q").as("hi"), sig("p").as("lo"))
  }

  private val shWideMaxHam = 7
  private val d4 = QueryDef(
    "d4_dedup_simhash",
    (s, dir) => {
      val sig = graft.sources.VerifyTap(simhashSigs128(s, dir), "d4_sigs")
      graft.operators.HammingNearDup
        .pairsWide(sig, "doc_id", "hi", "lo", shWideMaxHam)
        .orderBy("i", "j")
    },
    Some(s"""WITH sigs AS (
       |  SELECT doc_id, hi, lo
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/d4_sigs/*.parquet')
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
       |    AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
       |  <= $shWideMaxHam
       |ORDER BY i, j""".stripMargin))

  // --------------------------------------------------------------- D14
  // d4's FORCED NARROW-BLOCKED comparison arm, driver-oracled every
  // round (the d8/d8i twin pattern — d4 ships wide 4×32-bit blocking
  // at every size per the r13 measurement, so this twin keeps the
  // other candidate generator under the hash gate). Same wide-SIGNATURE
  // semantics — hamming ≤ 7 over the 128-bit simhash, the production
  // per-bit rate (Manku et al. 2007 ran 3/64 at 8·10⁹ pages) — but
  // pigeonhole blocks cut from the lo 64 bits only (2¹⁶ keys; lossless
  // because hamming₁₂₈ ≤ 7 bounds the lo half's hamming — the subset
  // inequality HammingNearDupSpec proves against brute force). Same
  // tap-based oracle as d4: DuckDB brute-forces the 128-bit popcount
  // pairing over the tapped signatures — and since both arms are exact
  // over the same signatures, d4 ≡ d14 row for row.
  private val d14 = QueryDef(
    "d14_dedup_simhash_wide",
    (s, dir) => {
      val sig = graft.sources.VerifyTap(simhashSigs128(s, dir), "d14_sigs")
      graft.operators.HammingNearDup
        .pairsWideNarrowBlocked(sig, "doc_id", "hi", "lo", shWideMaxHam)
        .orderBy("i", "j")
    },
    Some(s"""WITH sigs AS (
       |  SELECT doc_id, hi, lo
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/d14_sigs/*.parquet')
       |)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
       |    AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
       |  <= $shWideMaxHam
       |ORDER BY i, j""".stripMargin))

  // ---------------------------------------------------------------- D5
  // Embedding-cosine near-dup pairs ≥ 0.4: exact baseline — right side
  // broadcast, nested-loop on vec_id < vec_id. Bounded-candidate scale
  // variants live in S2 (LSH) / S3 (IVF). Oracle: DuckDB reproduces the
  // identical strict left-to-right float→double fold (same model as s1),
  // so cosines — and the ≥ threshold set — match bit for bit.
  private[queries] val cosT = 0.4
  private val d5 = QueryDef(
    "d5_dedup_embedding",
    (s, dir) => {
      // norms are computed ONCE per row before the pair join, so each of
      // the O(n²) candidate pairs costs a single native-codegen dot.
      // r21, two loop-level fixes from the plan capture:
      //  - the STREAM side is repartitioned to the default parallelism:
      //    a single-row-group embeddings file is one scan split, which
      //    ran the whole n² nested loop on ONE task (the shuffle moves
      //    n rows; the loop does n² work — always worth it here);
      //  - the id predicate is stated INSIDE the join condition ahead
      //    of the cosine bound, so the generated loop short-circuits on
      //    8-byte compares and pays the 64-dim dot for only the i<j
      //    half (the pushed-filter order evaluated the dot first).
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.norm(col("embedding")).as("nrm"))
      val stream = e.repartition(
        s.sparkContext.defaultParallelism, col("vec_id"))
      val pairs = stream.as("a").join(broadcast(e.as("b")),
        col("a.vec_id") < col("b.vec_id") &&
          (VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))) >= cosT)
      pairs
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          (VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cosine"))
        .orderBy("i", "j")
    },
    Some(s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      [(embedding[i]::DOUBLE)*(embedding[i]::DOUBLE)
       |       for i in range(1, len(embedding)+1)]), (x,y) -> x+y)) AS nrm
       |  FROM embeddings
       |), scored AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |    list_reduce(list_prepend(0.0,
       |      [(a.embedding[i]::DOUBLE)*(b.embedding[i]::DOUBLE)
       |       for i in range(1, len(a.embedding)+1)]), (x,y) -> x+y)
       |      / (a.nrm * b.nrm) AS cosine
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |)
       |SELECT i, j, cosine FROM scored
       |WHERE cosine >= $cosT ORDER BY i, j""".stripMargin))

  // ---------------------------------------------------------------- D6
  // Near-dup CLUSTER assignment: connected components over the verified
  // Jaccard pair graph, every doc labeled with the min doc_id of its
  // component (singletons label themselves) — the "pick one per group"
  // step a dedup pipeline runs after pair generation.
  //
  // Delegates to [[graft.operators.ConnectedComponents]] (union-find on
  // the driver below its edge-count gate; above it min-label propagation
  // + pointer jumping, O(log diameter) rounds, checkpointed lineage) —
  // see that operator for the scale analysis.
  private val d6 = QueryDef(
    "d6_dedup_clusters",
    (s, dir) => {
      val edges = jaccardPairs(s, dir)
        .select(col("i").as("src"), col("j").as("dst"))
      val nodes = docs(s, dir).select(col("doc_id").as("id"))
      graft.operators.ConnectedComponents.run(nodes, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $pairCtes,
       |good AS (
       |  SELECT i, j FROM pairs
       |  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= $jaccardT
       |),
       |edges AS (SELECT i AS a, j AS b FROM good
       |          UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |)
       |SELECT node AS doc_id, MIN(lab) AS cluster
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- D7
  // The end product of the dedup pipeline: the corpus with every
  // near-dup cluster collapsed to its keeper (min doc_id per component).
  // Output is the kept documents only — what a training run would read.
  /** Kept doc_ids after near-dup collapse (min id per Jaccard cluster,
    * singletons kept) — d7's body, shared with the composed pipeline p1.
    */
  private[queries] def keeperIds(s: SparkSession, dir: String): DataFrame = {
    val edges = jaccardPairs(s, dir)
      .select(col("i").as("src"), col("j").as("dst"))
    val nodes = docs(s, dir).select(col("doc_id").as("id"))
    graft.operators.ConnectedComponents.run(nodes, edges)
      .filter(col("id") === col("component")) // keepers label themselves
      .select(col("id").as("doc_id"))
  }

  /** The oracle CTE block computing keeper ids (recursive CC), shared
    * with p1's oracle. Expects to be spliced after WITH RECURSIVE.
    */
  private[queries] val keeperCtes: String =
    s"""$pairCtes,
       |good AS (
       |  SELECT i, j FROM pairs
       |  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= $jaccardT
       |),
       |edges AS (SELECT i AS a, j AS b FROM good
       |          UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS lab FROM documents
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |),
       |keepers AS (
       |  SELECT node AS doc_id FROM reach
       |  GROUP BY node HAVING node = MIN(lab)
       |)""".stripMargin

  private val d7 = QueryDef(
    "d7_dedup_apply",
    (s, dir) => keeperIds(s, dir).orderBy("doc_id"),
    Some(s"""WITH RECURSIVE $keeperCtes
       |SELECT doc_id FROM keepers ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------------------- D8
  // Embedding near-dup pairs AT SCALE: d5's semantics with the O(n²)
  // broadcast loop replaced by hyperplane-LSH bucketing — candidates are
  // an equi-join on (table, bucket), then exact cosine verifies. Output
  // = {(i,j,cosine) : cosine ≥ t AND some table buckets i with j}; the
  // candidate tap makes the exact-cosine stage hash-verifiable (same
  // two-stage oracle as s2/s3).
  //
  // The (b bits, L tables) knobs trade candidate volume for recall:
  //  - recall: P(pair at cosine c collides) = 1−(1−(1−acos(c)/π)^b)^L
  //  - candidates on near-random vectors: ≈ 1−(1−2^−b)^L of all pairs
  // A production dedup threshold (c ≥ 0.9) wants b=8, L=8: ~3% of
  // pairs scored, 94% recall. This corpus' pairs top out at cosine 0.6
  // (so t = 0.4 mirrors d5) — LSH's weak regime — and b=4, L=8 keeps
  // recall usable there: measured 0.80/0.77 vs d5's exact output at
  // sf0.01/sf0.1 with 0.41 of all-pairs scored (both asserted in
  // DedupConsistencySpec, with the formulas above predicting 0.75 and
  // 0.40). d5 stays the exact baseline; d8 is the shape that runs when
  // n² isn't an option.
  private val d8Bits = 4
  private val d8Tables = 8

  /** Bucket-occupancy-keyed signature width: candidates per (table,
    * bucket) grow as n²/2^b, so a FIXED b is quadratic in disguise —
    * measured 56× on a 10× corpus before this. Growing b with log(n)
    * pins expected bucket occupancy at the ~125 vectors the calibrated
    * b=4 sf0.1 regime has, making candidate volume O(n·occupancy) —
    * the knob a 100 TB run must turn. At every driver-checked SF
    * (n ≤ 2000) this evaluates to exactly the calibrated b=4, so the
    * oracle outputs and the measured recalls are unchanged there.
    * Recall at production thresholds survives the growth (c ≥ 0.9,
    * b=8, L=8 ⇒ 93%); at this corpus' weak c≈0.5 regime wider b trades
    * recall down — the documented LSH trade, spec-gated at the SFs
    * where b=4 holds.
    */
  private val d8TargetBucket = 125

  /** Large-regime occupancy target (engages with the in-stage verify
    * arm at [[d8InStageMinVecs]]): the recall-preserving rule holds
    * recall@0.9 ≈ 0.99 at ANY occupancy target (L scales by (1/p*)^Δb
    * either way), but the CANDIDATE budget is L·occupancy per vector —
    * monotone in the target. The calibrated 125 spends 24 tables ×
    * 125 occupancy = 3000 candidates per vector at n = 200k, and the
    * sf10 probe measured the bucket join's pair enumeration itself as
    * the wall (477 s for 327M candidates at 200k vectors, BEFORE any
    * vector arithmetic — per-pair SMJ machinery, not the cosine).
    * Dropping the target to 16 in the large regime (bits 11 → 14,
    * L 24 → 38) cuts the budget ~5× (38 × 16 ≈ 600/vector) at the
    * same preserved recall; the price is 1.6× band rows — linear,
    * cheap, and measured (band build 3.3 s vs 477 s of enumeration).
    * Driver SFs (n ≤ 20k) keep the calibrated target — outputs,
    * recalls, and the committed baselines there are unchanged.
    */
  private val d8TargetBucketLarge = 16
  private[graft] def d8BitsFor(n: Long, largeTuning: Boolean): Int =
    LshTuning.bitsFor(n,
      if (largeTuning) d8TargetBucketLarge else d8TargetBucket,
      d8Bits)
  private[graft] def d8BitsFor(n: Long): Int =
    d8BitsFor(n, n >= d8InStageMinVecs)

  /** Table count paired to the width by the recall-preserving rule at
    * the PRODUCTION near-dup similarity (c ≥ 0.9 — real embedding
    * dedup thresholds; this corpus' 0.4–0.6 test regime is LSH's
    * documented weak spot): per-table collision at c = 0.9 falls by
    * 0.857^Δb as b grows, so L grows by its inverse and recall at
    * c ≥ 0.9 stays ~0.94 at ANY corpus size — where the fixed L = 8
    * would decay to 0.20 by b = 23 (billion-vector regime). Candidate
    * volume pays L(n)·occupancy per item: super-linear by the L factor,
    * the known price of constant-recall LSH dedup (why production
    * MinHash dedup runs ~100 band tables at web scale). At every
    * driver-checked SF the floors keep (b, L) = (4, 8) — outputs
    * unchanged; the 10× regime is spec-gated in DedupConsistencySpec.
    */
  private val d8PStar = 1.0 - math.acos(0.9) / math.Pi
  private[graft] def d8TablesFor(bits: Int): Int =
    LshTuning.tablesFor(bits, d8Bits, d8Tables, d8PStar)

  /** Verified embedding near-dup pairs via hyperplane-LSH bucketing —
    * the scale-path pair generator shared by d8 (reported directly) and
    * d10 (edge set for semantic clustering). Candidates are an equi-join
    * on (table, bucket); exact cosine verifies; the candidate set is
    * materialized under `tap` so each consumer gets its own
    * hash-verifiable two-stage oracle.
    *
    * Multi-table dedup is a per-row FILTER, not a shuffle: a pair
    * colliding in k of the L tables leaves the self-join k times, and
    * `first_equal_index(a.sigs, b.sigs) = table` keeps exactly the
    * first collision — the same unique pair set a `distinct` produced,
    * without shuffling the full candidate volume (at sf1 that distinct
    * moved 13.5M rows to drop a 4.5% duplicate tail; the filter is ≤ L
    * long compares per raw candidate inside the join's codegen stage).
    */
  /** Vector count at which [[lshCosinePairs]] switches to the in-stage
    * verify arm (embedding carried through the band table). Below it,
    * the candidate set is small and the embedding table broadcasts, so
    * fetching vectors AFTER the tap by equi-join is free and avoids
    * re-running the bucket join wide (the in-stage arm measured +2.4 s
    * on d10 at sf0.1). Above it, the embedding side outgrows broadcast
    * and each post-tap fetch becomes a sort-merge that SORTS the
    * candidate-pair side — at the sf10 probe (200k vectors, 327M
    * candidates) that was an 8×-per-candidate spill wall, 371 s of
    * wall-clock; the in-stage arm re-measured 86 s. Same O(100k)
    * regime as every other size-keyed armor switch. Result-identical
    * either way (the arms differ only in where the deterministic
    * cosine is evaluated).
    */
  private[graft] val d8InStageMinVecs = 100000L

  /** Verify-arm selector for [[lshCosinePairs]] — `Auto` keys off the
    * corpus size ([[d8InStageMinVecs]]); `Small`/`InStage` force one
    * arm regardless of size, which is how DedupConsistencySpec proves
    * the arms result-identical and how the driver-oracled
    * `d8i_dedup_embedding_lsh_instage` runs the large-corpus plan
    * hash-green on a driver SF (the threshold itself sits above every
    * test corpus by design — it marks where broadcast stops being an
    * option, not where the semantics change).
    */
  private[graft] sealed trait D8Arm
  private[graft] object D8Arm {
    case object Auto extends D8Arm
    case object Small extends D8Arm
    case object InStage extends D8Arm
  }

  private[graft] def lshCosinePairs(s: SparkSession, dir: String,
      tap: String, arm: D8Arm = D8Arm.Auto,
      largeTuning: Option[Boolean] = None): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bits = d8BitsFor(n, largeTuning.getOrElse(n >= d8InStageMinVecs))
    val tables = d8TablesFor(bits)
    val inStage = arm match {
      case D8Arm.InStage => true
      case D8Arm.Small   => false
      case D8Arm.Auto    => n >= d8InStageMinVecs
    }
    // the large arm's band table CARRIES the embedding: the candidate
    // join's output then has both vectors in-row and the exact-cosine
    // verify runs INSIDE the join's codegen stage — the candidate set
    // (327M rows at the sf10 probe) never crosses an exchange. Cost:
    // one ~4×-wider band shuffle (the 256 B embedding rides the n·L
    // band rows) and a second, column-pruned pass for the tap — the
    // only formulation whose per-candidate cost stays flat when
    // NOTHING is broadcastable.
    val bCols =
      (if (inStage)
        // nrm rides the band row so the pair test needs ONE dot, not
        // three: SQRT(dot(v,v)) is a pure per-row function, and
        // dot(a,b)/(nrm_a*nrm_b) multiplies the same IEEE values in
        // the same order as dot/(SQRT(dot aa)*SQRT(dot bb)) — the
        // hash-exact cosine formula, factored per row
        Seq(col("vec_id"), col("embedding"),
          sqrt(VectorFunctions.dot(col("embedding"), col("embedding")))
            .as("nrm"))
       else Seq(col("vec_id"))) :+
        array((0 until tables).map(t =>
          VectorFunctions.hyperplaneSignature(col("embedding"), bits,
            0xd8 + t)): _*).as("sigs")
    // BARRIER between the signature build and the explode: under a
    // Generate the optimizer re-inlines the computed sigs array into
    // the per-OUTPUT-row loop, re-running all L hyperplane passes L
    // times per vector (the §7 r4 HOF-array gotcha, measured here as
    // 84 s vs 0.8 s for the sf1 band build at L=38 — the r12 sf10
    // probe's d8 wall). The persisted table is n rows × (id, vector,
    // norm, L longs) — ~115 MB at 200k vectors, DISK_ONLY scratch.
    val b = graft.operators.ScratchCache.scratch(e.select(bCols: _*))
      .select(col("*"), posexplode(col("sigs")))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    // sort-merge, not broadcast: the self-join input is n·L rows and
    // carries the L-long sigs payload — at corpus scale NO side of a
    // self-join is broadcastable, and even here the 45 MB broadcast
    // cost a serial driver-side relation build per execution (measured
    // ~20 s → 2.4 s on the sf1 candidate stage once hinted off
    // broadcast; SMJ and shuffled-hash measure identically here). SMJ
    // over shuffled-hash because its sort spills: a hash build of a
    // corpus-proportional partition has no spill path and would OOM
    // where the merge degrades gracefully. Both sides shuffle by
    // (table, bucket) — occupancy-keyed buckets keep partitions
    // balanced at any n.
    val joined = b.as("a").join(b.as("b").hint("merge"),
      col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id") &&
        VectorFunctions.firstEqualIndex(col("a.sigs"), col("b.sigs"))
          === col("a.table"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))

    if (inStage) {
      // candidate tap for the two-stage oracle: a SECOND, column-pruned
      // pass over the bucket join (ids only — the pruner drops the
      // embedding payload from this plan, so the tap write costs the
      // small arm's candidate stage, not the wide join). The result
      // below shares the same deterministic lineage (hyperplane
      // signatures are pure functions), so tap rows and result pairs
      // coincide exactly.
      graft.sources.VerifyTap(joined, tap, coalesce = false)
      // The cosine THRESHOLD goes in the join condition EXPLICITLY and
      // LAST: written as a post-join .filter, Catalyst pushes it into
      // the join condition PREPENDED — every bucket enumeration then
      // paid the dot products before the cheap kills ran (measured
      // 972 s at sf10 vs ~40 s with the kills first; conjunct order is
      // preserved, so vec_id< drops half the enumerations on a long
      // compare and first_equal_index drops multi-table duplicates
      // before any vector arithmetic happens)
      val pairCos = VectorFunctions.dot(col("a.embedding"),
        col("b.embedding")) / (col("a.nrm") * col("b.nrm"))
      b.as("a").join(b.as("b").hint("merge"),
          col("a.table") === col("b.table") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id") &&
            VectorFunctions.firstEqualIndex(col("a.sigs"), col("b.sigs"))
              === col("a.table") &&
            pairCos >= cosT)
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          pairCos.as("cosine"))
    } else {
      // small arm: tap the candidates, fetch vectors by equi-join —
      // the embedding table broadcasts here, so the pair side streams
      val cand = graft.sources.VerifyTap(joined, tap, coalesce = false)
      cand
        .join(e.select(col("vec_id").as("i"), col("embedding").as("ea")),
          "i")
        .join(e.select(col("vec_id").as("j"), col("embedding").as("eb")),
          "j")
        .select(col("i"), col("j"),
          VectorFunctions.cosine(col("ea"), col("eb")).as("cosine"))
        .filter(col("cosine") >= cosT)
    }
  }

  /** Oracle CTE block re-running exact cosine over a materialized
    * candidate tap: `cand` (the tapped pairs) and `scored` (the s1-style
    * bit-exact left-to-right double fold). Shared by d8/d10.
    */
  private def lshScoredCtes(tap: String): String =
    s"""cand AS (
       |  SELECT i, j
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/$tap/*.parquet')
       |), scored AS (
       |  SELECT i, j,
       |    list_reduce(list_prepend(0.0, [(a.embedding[k]::DOUBLE)*(b.embedding[k]::DOUBLE) for k in range(1, len(a.embedding)+1)]), (x,y) -> x+y)
       |    / ( sqrt(list_reduce(list_prepend(0.0, [(a.embedding[k]::DOUBLE)*(a.embedding[k]::DOUBLE) for k in range(1, len(a.embedding)+1)]), (x,y) -> x+y))
       |      * sqrt(list_reduce(list_prepend(0.0, [(b.embedding[k]::DOUBLE)*(b.embedding[k]::DOUBLE) for k in range(1, len(b.embedding)+1)]), (x,y) -> x+y)) ) AS cosine
       |  FROM cand
       |  JOIN embeddings a ON a.vec_id = i JOIN embeddings b ON b.vec_id = j
       |)""".stripMargin

  private val d8 = QueryDef(
    "d8_dedup_embedding_lsh",
    (s, dir) => lshCosinePairs(s, dir, "d8_cand").orderBy("i", "j"),
    Some(s"""WITH ${lshScoredCtes("d8_cand")}
       |SELECT i, j, cosine FROM scored
       |WHERE cosine >= $cosT ORDER BY i, j""".stripMargin))

  /** d8 through the FORCED in-stage verify arm — the exact plan that
    * ships above [[d8InStageMinVecs]] (embedding + norm carried on the
    * band rows, cosine evaluated inside the bucket join's codegen
    * stage, candidates never crossing an exchange), driver-oracled on
    * the same two-stage tap oracle. The auto threshold sits above
    * every test SF on purpose (it marks the broadcast cliff, not a
    * semantic boundary), so without this entry the shipping
    * large-corpus plan would be dead code to the correctness gate;
    * with it, every round hash-verifies BOTH arms. Output is
    * row-identical to d8 (DedupConsistencySpec asserts pair-set and
    * tap equality across the arms, under small AND large tuning).
    */
  private val d8i = QueryDef(
    "d8i_dedup_embedding_lsh_instage",
    (s, dir) => lshCosinePairs(s, dir, "d8i_cand", D8Arm.InStage)
      .orderBy("i", "j"),
    Some(s"""WITH ${lshScoredCtes("d8i_cand")}
       |SELECT i, j, cosine FROM scored
       |WHERE cosine >= $cosT ORDER BY i, j""".stripMargin))

  // ---------------------------------------------------------------- D9
  // Incremental ingestion dedup — the daily-batch shape of d1: today's
  // batch (one source) is deduplicated (a) against the PERSISTED
  // content-hash ledger of the already-ingested corpus via a left-anti
  // join, then (b) within itself. The ledger is a segment ledger
  // ([[readHashLedger]]) at an EXPLICIT path keyed by the sf dir:
  // persistence must not ride the session catalog — a fresh session
  // forgets managed tables while
  // their warehouse dirs survive on disk, so a catalog exists-check +
  // saveAsTable bootstrap dies with LOCATION_ALREADY_EXISTS on every
  // cold start (the r5 driver failure), and a GLOBAL ledger name would
  // merge one SF's hashes into another's when the driver verifies
  // several SFs back to back. Disk existence is the only state; each
  // run either bootstraps or idempotently APPENDS the novel hashes
  // (anti-join against the ledger, append the remainder — O(batch)
  // maintenance; see [[refreshLedger]]). The dedup plan then reads
  // ONLY the ledger's committed segments and the
  // batch rows (source = 'src0' is pushed to the documents scan;
  // PlanSpec asserts both properties). At 100 TB the ledger join is a
  // shuffle hash join on 32-char hashes (broadcast when the ledger
  // fits); the batch side streams — the corpus is never rescanned
  // beyond its ledger, which is what makes daily ingestion O(batch),
  // not O(corpus). Oracle: DuckDB re-derives the ledger from scratch,
  // so a hash match proves the persisted-ledger path equals the
  // from-scratch derivation. Cold start + cross-SF isolation are
  // spec-gated in DedupConsistencySpec.
  private[graft] def d9LedgerPath(dir: String): String = {
    // basename + strong digest of the absolute path: human-readable,
    // and distinct dirs sharing a basename get distinct ledgers with
    // no collision roulette (a 32-bit String.hashCode collision under
    // the shared state root would silently merge two corpora's
    // ledgers — the exact cross-SF contamination
    // DedupConsistencySpec guards against)
    // `_p2` suffix = the segment-ledger layout (16-way prefix-
    // partitioned `hashes` segments + one tombstone log); older
    // layouts' dirs are orphaned, not migrated in place — a layout
    // change must never reinterpret existing state
    StatePath(dir, "d9_ledger", "_p2")
  }

  /** Hash-prefix runtime pruning for the ledger scan: each ledger
    * segment is parquet PARTITIONED by the first hex char of the
    * content hash (16 balanced partitions — md5 is uniform), and each
    * consumer filters it by the DISTINCT prefixes present in its own
    * batch. The prefix set is ≤ 16 driver-side strings (a
    * metadata-sized collect, same class as ledger file listings), and
    * the `isin` lands in the scan's PartitionFilters — so a
    * steady-state daily batch covering p of the 16 prefixes reads
    * p/16 of the ledger's bytes AND footers. At a 100 TB corpus the
    * ledger is ~32 GB of hashes; without the layout every daily batch
    * re-scanned all of it, with it a targeted re-ingest (one source,
    * one shard) touches only its ~2 GB slice. 16 over 256: the
    * partition-dir LISTING is a per-run fixed cost paid at EVERY
    * corpus size (256 dirs measured ~+2 s/run on the sf1 d9 — the
    * layout tax dwarfing the query), while 16 dirs list for free and
    * a 2 GB pruned slice is already seconds on a cluster. Plan-gated
    * in PlanSpec (the d9 ledger scan shows the pushed prefix
    * PartitionFilters).
    */
  private[graft] def prunedByPrefix(ledger: DataFrame,
      hashes: DataFrame): DataFrame =
    if (!ledger.columns.contains("pfx")) ledger
    else {
      val pfxs = hashes
        .select(substring(col("content_hash"), 1, 1).as("pfx"))
        .distinct().collect().map(_.getString(0)).toSeq
      ledger.filter(col("pfx").isin(pfxs: _*))
    }

  /** THE read seam of the d9/d16/d17 content-hash ledger (d9, d16,
    * d17, p6, ST18 and the ledger bench all read through here): the
    * committed `hashes` segments as one relation minus the live
    * tombstones, `pfx` kept so [[prunedByPrefix]] still prunes the scan.
    */
  private[graft] def readHashLedger(s: SparkSession,
      path: String): DataFrame =
    SegmentLedger.live(s, path, "hashes", "content_hash")

  /** `hashes` as sub-table `hashes` of segment `k` of the ledger at
    * `path`, partitioned on the hash's first hex char.
    */
  private def writeHashes(path: String)(hashes: DataFrame, k: Int): Unit =
    SegmentLedger.write(hashes.select("content_hash")
        .withColumn("pfx", substring(col("content_hash"), 1, 1)),
      path, "hashes", k, Some("pfx"))

  /** Bootstrap-or-append the ledger at `path` from this run's derived
    * prior-corpus hashes. Maintenance is O(batch), not O(corpus): after
    * the bootstrap segment, each run anti-joins the incoming hashes
    * against the live ledger and commits only the novel remainder as
    * one segment — the standing corpus ledger is never rewritten
    * (rewriting it made every daily ingest pay an O(corpus) write at
    * 100 TB, and was the real cost behind d9's r6 bench jump). A
    * taken-down hash re-submitted is resurrected by an `untomb` record
    * (its row is still in place), so a hash never gets a second
    * physical row. Idempotent: re-ingesting known hashes commits
    * nothing, so the ledger always equals the from-scratch derivation
    * — which is what the oracle checks. IO goes through the Hadoop
    * FileSystem API, so the ledger can live on shared storage
    * (HDFS/S3A) on a real cluster, not just local disk. Maintenance
    * reads the FULL live ledger: pruning it by the prior side's
    * prefixes would re-execute the corpus-sized prior pipeline a
    * second time (driver collect) to derive a set that a full prior
    * covers anyway — the prune belongs on the QUERY path
    * (incrementalDedup), where the batch is small and built.
    */
  private[graft] def refreshLedger(s: SparkSession, path: String,
      prior: DataFrame): Unit =
    SegmentLedger.withWriter(s, path, "refreshLedger") {
      SegmentLedger.appendNovel(s, path, "hashes", "content_hash", prior)(
        writeHashes(path))
    }

  /** The dedup step itself — the plan a daily ingest run executes:
    * ledger anti-join + within-batch collapse. Touches the ledger
    * segments and the batch rows only.
    */
  private[graft] def incrementalDedup(batch: DataFrame,
      ledger: DataFrame): DataFrame = {
    val hashed = batch.withColumn("content_hash", md5(col("text")))
    hashed
      .join(prunedByPrefix(ledger, hashed).select("content_hash"),
        Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
  }

  private val d9 = QueryDef(
    "d9_dedup_incremental",
    (s, dir) => {
      val all = docs(s, dir)
      // yesterday's ingest runs: maintain the persisted ledger
      val prior = all.filter(col("source") =!= "src0")
        .select(md5(col("text")).as("content_hash")).distinct()
      val path = d9LedgerPath(dir)
      refreshLedger(s, path, prior)
      // today's batch: the returned plan scans ledger + batch only
      incrementalDedup(all.filter(col("source") === "src0"),
        readHashLedger(s, path))
        .orderBy("content_hash")
    },
    Some("""WITH ledger AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src0'
       |), batch AS (
       |  SELECT md5(text) AS content_hash, doc_id
       |  FROM documents WHERE source = 'src0'
       |)
       |SELECT content_hash, MIN(doc_id) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies
       |FROM batch
       |WHERE content_hash NOT IN (SELECT content_hash FROM ledger)
       |GROUP BY content_hash ORDER BY content_hash""".stripMargin))

  // --------------------------------------------------------------- D10
  // Semantic cluster assignment AT SCALE: connected components over the
  // LSH-bucketed embedding-cosine pair graph (d8's verified edges),
  // every vector labeled with the min vec_id of its component — d6's
  // semantic twin, the "group then keep one" step of embedding-based
  // dedup. Nothing here is all-pairs: edges come from the (table,
  // bucket) equi-join + exact-cosine verify, and the CC loop is
  // edge-restricted min-label propagation, O(log diameter) rounds.
  // Oracle: recursive CTE over the tapped candidates — DuckDB re-runs
  // the exact-cosine verify AND the transitive closure, so both the
  // edge set and the clustering are hash-verified. The exact all-pairs
  // twin ([[exactSemanticClusters]]) stays as the recall yardstick in
  // DedupConsistencySpec.
  private val d10 = QueryDef(
    "d10_dedup_semantic_clusters",
    (s, dir) => {
      // verified pairs are output-sized: checkpoint them so CC's sym
      // union + rounds replay the blocks, not the LSH join lineage
      // (the d6/d7 discipline — without it the r11 in-stage verify
      // rewrite made every CC entry re-run the bucket join)
      val edges = lshCosinePairs(s, dir, "d10_cand")
        .select(col("i").as("src"), col("j").as("dst"))
        .localCheckpoint()
      val nodes = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("id"))
      graft.operators.ConnectedComponents.run(nodes, edges)
        .select(col("id").as("vec_id"), col("component").as("cluster"))
        .orderBy("vec_id")
    },
    Some(s"""WITH RECURSIVE ${lshScoredCtes("d10_cand")},
       |good AS (SELECT i, j FROM scored WHERE cosine >= $cosT),
       |edges AS (SELECT i AS a, j AS b FROM good
       |          UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |)
       |SELECT node AS vec_id, MIN(lab) AS cluster
       |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin))

  /** The exact all-pairs twin of d10 (d5's edge set + the same CC) —
    * not shipped as a query (the broadcast nested loop is the plan that
    * dies at 100×); kept as the recall yardstick DedupConsistencySpec
    * measures d10's LSH clustering against.
    */
  private[graft] def exactSemanticClusters(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("nrm"))
    val pairs = e.as("a").join(broadcast(e.as("b")),
      col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= cosT)
      .select("src", "dst")
    val nodes = e.select(col("vec_id").as("id"))
    graft.operators.ConnectedComponents.run(nodes, pairs)
      .select(col("id").as("vec_id"), col("component").as("cluster"))
  }

  // --------------------------------------------------------------- D11
  // SPAN-level exact-substring dedup (the Lee et al. 2022 "Deduplicating
  // Training Data Makes Language Models Better" stage): doc-level d1–d10
  // drop whole documents, but boilerplate repeats INSIDE otherwise-novel
  // documents; this excises every duplicated spanK-token span except its
  // first occurrence (global (doc_id, pos) order) and rebuilds the text.
  //
  // 100 TB shape: gram hashes explode map-side (native WordGramHashes,
  // no span strings ever materialize); ownership + multiplicity is ONE
  // partial-agg groupBy on the 8-byte gram key; the occurrence→stats
  // join carries only grams with count ≥ 2 (duplicated spans are a thin
  // slice of any real corpus); mark expansion is ×spanK on excised
  // occurrences only; the rebuild is a doc_id-grain join + one
  // filter-by-index HOF pass per doc. Nothing is all-pairs, nothing is
  // windowed, nothing funnels through one reducer.
  //
  // The corpus is deliberately SCANNED THREE TIMES ((doc_id, text)
  // projection only) rather than materializing the exploded occurrence
  // table once: occ is ×(len−spanK+1) the corpus, so a checkpoint of it
  // costs more IO than the two extra pruned scans it would save. The
  // alternative one-pass shape (collect_list of all occurrences per
  // gram) is NOT scale-safe: a mass-duplicated gram would pull its
  // millions of occurrences into one aggregation buffer; the join keeps
  // every hot gram's occurrence set distributed.
  //
  // The global first-occurrence owner is the lexicographic MIN of
  // (doc_id, pos) — taken as a struct/row min on BOTH engines, so no
  // packed integer key and no bound on doc_id or position (ScaleUp's
  // sf1 replicas shift doc_ids past 2³¹, which overflowed the first,
  // packed-key formulation). A WHOLE-duplicate
  // document excises to empty clean_text (every token sits in some
  // non-first duplicated span): positional excision is the contract
  // here; dropping whole-dup docs is d1/d7's job upstream.
  private[queries] val spanK = 8

  /** d11's span-excision body over an arbitrary (doc_id, text) frame —
    * shared by d11 (whole corpus) and the composed pipeline p3 (the
    * near-dup keepers). Output: (doc_id, n_spans, n_removed,
    * clean_text), unordered; "first occurrence" is global over the
    * INPUT frame (restricting the frame restricts the ownership
    * universe — pipeline semantics, stage input = prior stage output).
    */
  private[queries] def spanExciseOver(docsIn: DataFrame): DataFrame = {
      val sparkDocs = docsIn.select(col("doc_id"), col("text"))
      val occ = sparkDocs
        .select(col("doc_id"), posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.functions.WordGramHashes(
            org.apache.spark.sql.GraftBridge.expression(col("text")),
            spanK, distinctSorted = false))))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("g"))
      val occKey = struct(col("doc_id"), col("pos"))
      val stats = occ.groupBy("g").agg(
        count(lit(1)).as("cnt"), min(occKey).as("own"))
      val excise = occ.join(stats.filter(col("cnt") >= 2), "g")
        .filter(occKey =!= col("own"))
        .select("doc_id", "pos")
      // one doc-grain pass: span count (distinct starts), the distinct
      // marked-position set, and its size — so the excise subtree is
      // planned once, not once per aggregate
      val rm = excise
        .select(col("doc_id"), col("pos"),
          explode(sequence(col("pos"), col("pos") + (spanK - 1))).as("p"))
        .groupBy("doc_id")
        .agg(countDistinct(col("pos")).as("n_spans"),
          collect_set(col("p")).as("ps"))
      val ps = coalesce(col("ps"), array().cast("array<int>"))
      // Rebuild: filter-by-index against the mark set. Cost is
      // O(len · |ps|) worst case, but the mark set is a thin slice of
      // any real corpus and the one genuinely quadratic input — the
      // FULLY-excised document (|ps| = len, e.g. a whole-duplicate
      // book) — short-circuits to "" without scanning. (A "linear"
      // element_at-over-array_except rewrite was tried and REVERTED:
      // inside a HOF lambda the optimizer re-inlines the split()
      // expression per element, re-tokenizing the document once per
      // kept position — measured 4× slower at sf1.)
      val toks = split(col("text"), " ")
      sparkDocs
        .join(rm, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(size(col("ps")).cast(LongType), lit(0L)).as("n_removed"),
          when(size(ps) >= size(toks), lit(""))
            .otherwise(array_join(filter(toks,
              (_, i) => !array_contains(ps, i + 1)), " "))
            .as("clean_text"))
  }

  private val d11 = QueryDef(
    "d11_span_dedup",
    (s, dir) => spanExciseOver(docs(s, dir)).orderBy("doc_id"),
    Some(s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS words FROM documents),
       |occ AS (SELECT doc_id, i AS pos,
       |    array_to_string(words[i:i+${spanK - 1}],' ') AS g
       |  FROM w, unnest(generate_series(1, greatest(len(words)-${spanK - 1},0))) AS t(i)),
       |stats AS (SELECT g, COUNT(*) AS cnt,
       |    MIN((doc_id, pos)) AS own FROM occ GROUP BY g),
       |excise AS (SELECT o.doc_id, o.pos FROM occ o JOIN stats s USING(g)
       |  WHERE s.cnt >= 2 AND (o.doc_id, o.pos) <> s.own),
       |exc_count AS (SELECT doc_id, COUNT(*) AS n_spans FROM excise GROUP BY doc_id),
       |marks AS (SELECT DISTINCT doc_id, pos + d AS p
       |  FROM excise, unnest(generate_series(0, ${spanK - 1})) AS t(d)),
       |rm AS (SELECT doc_id, list(p) AS ps, COUNT(*) AS n_removed FROM marks GROUP BY doc_id)
       |SELECT w.doc_id,
       |  CAST(coalesce(e.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(rm.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(array_to_string([words[i] for i in range(1, len(words)+1)
       |    if NOT list_contains(coalesce(rm.ps, []), i)], ' '), '') AS clean_text
       |FROM w LEFT JOIN exc_count e USING(doc_id) LEFT JOIN rm USING(doc_id)
       |ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------------------- D12
  // Directional CONTAINMENT dedup (|A∩B|/|A| ≥ t): the subset-duplicate
  // case — a short document wholly quoted/wrapped inside a long one —
  // that symmetric Jaccard (d2) structurally misses (containment 1.0,
  // Jaccard |A|/|B| → 0). One-sided prefix filtering keeps candidate
  // generation an equi-join (contained side's rare prefix × container's
  // full token list — the container side admits no prefix or length
  // restriction, by design); exact verification via the native
  // sorted-merge intersect; the same unique-set armor and size-keyed
  // merge hints as d2, with a df-ordered prefix at scale. See
  // operators/ContainmentNearDup.
  private val containT = 0.9
  private val d12 = QueryDef(
    "d12_containment_dedup",
    (s, dir) => graft.operators.ContainmentNearDup.pairsAuto(
      shingled(s, dir), "doc_id", "sh", containT,
      CorpusStats.nDocs(s, dir)).orderBy("i", "j"),
    Some(s"""WITH $pairCtes,
       |opairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
       |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT i, j, shared,
       |  CAST(shared AS DOUBLE) / CAST(ca.n AS DOUBLE) AS containment
       |FROM opairs JOIN cnt ca ON ca.doc_id = i
       |WHERE CAST(shared AS DOUBLE) / CAST(ca.n AS DOUBLE) >= $containT
       |ORDER BY i, j""".stripMargin))

  // --------------------------------------------------------------- D13
  // Incremental NEAR-dup ingest — d9's near-duplicate twin and the op a
  // daily pipeline actually runs: today's batch is checked for
  // near-duplicates AGAINST THE STANDING CORPUS without recomputing any
  // corpus-side work, via a persisted MinHash band-index LEDGER
  // (doc_id, shingle set, size, band keys — d3's index, materialized).
  // Daily cost is O(batch): the batch is shingled + sketched (its own
  // rows only), its band keys probe the ledger's stored band keys by
  // equi-join (batch side broadcasts at any corpus size), candidates
  // verify with the exact sorted-merge Jaccard against the ledger's
  // STORED shingle sets, and ledger maintenance appends only novel
  // doc_ids (the d9 append-only discipline — nothing corpus-sized is
  // ever rewritten or recomputed). Same 16×4 banding as d3, so the
  // surfaced pair set coincides with the exact cross-set truth
  // (per-pair miss ~2·10⁻⁴ at J = 0.8) and the oracle is a full
  // DuckDB recompute over the source split.
  //
  // DIAGNOSIS NOTE (applies to ST10's spec too): the oracle is exact
  // brute-force Jaccard while the operator surfaces LSH collisions, so
  // a true pair at J slightly above 0.8 that misses all 16 bands
  // (~2·10⁻⁴ per qualifying pair; DuckDB cannot re-derive the xxhash64
  // band keys to be band-aware) would show up as a hash/row mismatch
  // with the Spark side MISSING exactly one near-threshold pair. If a
  // future d13 failure has that precise shape — row counts off by ~1,
  // the absent pair's recomputed Jaccard in [0.80, 0.82) — it is the
  // documented LSH-miss probability materializing on regenerated data,
  // not an operator bug; any other shape is a real defect.

  /** (doc_id, sh, n, keys): the per-doc MinHash band index of a
    * (doc_id, text) frame — the schema the d13 ledger persists.
    * Documents with no 3-gram (< 3 words) have no index row (they
    * cannot near-dup).
    */
  private[graft] def minhashIndex(d: DataFrame): DataFrame = {
    // scratch the shingle frame: it feeds BOTH the explode-derived
    // signature branch and the final join — unscratched, WordGramHashes
    // runs twice over the input (corpus-sized at the d13 ledger
    // bootstrap), the same re-evaluation gotcha every other shingle
    // consumer barriers against
    val sh = graft.operators.ScratchCache.scratch(d
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordGramHashes(
          org.apache.spark.sql.GraftBridge.expression(col("text")),
          3, distinctSorted = true)).as("sh"))
      .withColumn("n", size(col("sh"))))
    val sig = sh.select(col("doc_id"), explode(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(min(xxhash64(lit(0), col("h"))).as("m0"),
        (1 until mhK).map(i =>
          min(xxhash64(lit(i), col("h"))).as(s"m$i")): _*)
      .select(col("doc_id"),
        array((0 until mhK).map(i => col(s"m$i")): _*).as("sig"))
    sh.join(sig, "doc_id")
      .select(col("doc_id"), col("sh"), col("n"),
        bandKeys(col("sig"), mhBands, mhRows).as("keys"))
  }

  // `_p2` = the one-relation segment-ledger layout (`seg=k` index
  // segments + one tombstone log under one commit chain); the layouts
  // before it are stale state, never reinterpreted
  private[graft] def d13LedgerPath(dir: String): String =
    StatePath(dir, "d13_ledger", "_p2")

  /** Bootstrap-or-append the band-index ledger: only doc_ids absent
    * from the LIVE ledger (committed index rows minus tombstones) are
    * (re)indexed — maintenance is O(novel docs), the corpus is never
    * re-shingled. A tombstoned doc_id re-submitted is RESURRECTED by an
    * `untomb` record: its index rows are still physically in place
    * (the tombstones ⊆ ledger-ids invariant) and keyed by the doc_id
    * refresh never re-indexes, so un-shadowing them is exactly the
    * append the doc would otherwise get — without ever creating
    * duplicate rows for one id. The fresh docs' index rows and the
    * untomb records are ONE segment under one commit marker
    * ([[graft.state.SegmentLedger]]), so a crash leaves the ledger
    * exactly pre- or post-refresh.
    */
  private[graft] def refreshNearDupLedger(s: SparkSession, path: String,
      prior: DataFrame): Unit =
    SegmentLedger.withWriter(s, path, "refreshNearDupLedger") {
      SegmentLedger.appendNovel(s, path, "index", "doc_id", prior)(
        (rows, k) => SegmentLedger.write(minhashIndex(rows), path, "index", k))
      s.catalog.refreshByPath(path)
    }

  /** Compaction for the d9/d16/d17 hash ledger
    * ([[graft.state.SegmentLedger.compact]]): the live hashes
    * (tombstones applied — the physical purge) packed into one seg=0 of
    * one file per `pfx` partition. The append-only discipline is right
    * for ingest cost — nothing corpus-sized is ever rewritten — but
    * every batch adds a segment, and after a year of daily runs every
    * ledger read pays a listing + parquet-footer tax of ~365 segments
    * (measured in `Bench ledger compact`). Compaction is the periodic
    * counterpart: ONE scan + one write, preserving the 16 partition
    * dirs and therefore the pruned-scan PartitionFilters. Content is
    * untouched — read-equivalence is spec-gated.
    *
    * d16 interplay: compaction is also the fp-creep BOUND for takedowns
    * (a tombstone shadows a hash but the filter keeps it — safe, only
    * over-approximate), so when the ledger carries a filter it is
    * REBUILT from the compacted rows inside the staging dir: the swap
    * flips ledger and filter together.
    */
  private[graft] def compactLedger(s: SparkSession, path: String): Unit =
    SegmentLedger.compact(s, path, "compactLedger",
        SegmentLedger.segments(s, path, "hashes").size > 1 ||
          SegmentLedger.segments(s, path, "tombs").nonEmpty) { staging =>
      writeHashes(staging)(readHashLedger(s, path), 0)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(bloomMarker(path)))
        commitBloom(fs, staging, buildBloom(SegmentLedger
          .readSegment(s, staging, "hashes", 0).select("content_hash")))
    }

  /** TAKEDOWN for the d9/d16 content-hash ledger (r19): remove
    * `hashes` (a `content_hash` frame — the reclaimed/DMCA'd/opted-out
    * content), so a legitimate future re-submission of that content
    * re-evaluates as NOVEL instead of being silently swallowed as a
    * duplicate — the gap an append-only hash ledger structurally has.
    *
    * One committed tombstone segment of takedown-sized `tomb` records,
    * never a ledger rewrite: the live hashes among `hashes` are found
    * by one prefix-pruned scan (the prune lands as PartitionFilters)
    * semi-joined to the broadcast request, and every data file stays
    * byte-identical (IO-gated in LedgerTakedownSpec). Every reader goes
    * through [[readHashLedger]], so the shadowed hashes vanish from all
    * of them at the commit marker. Idempotent — removing absent or
    * already-removed hashes commits nothing. The physical purge rides
    * [[compactLedger]].
    *
    * d16's Bloom sidecar is delete-friendly BY CONSTRUCTION: shadowing
    * ledger rows PRESERVES bloom ⊇ ledger (the filter only
    * over-approximates — a removed hash tests positive, pays the exact
    * join, finds nothing, and is correctly NOVEL), so the filter is
    * left untouched here; the fp creep is bounded by
    * [[compactLedger]]'s rebuild-on-compact rule (spec-gated).
    */
  private[graft] def removeFromHashLedger(s: SparkSession, path: String,
      hashes: DataFrame): Unit =
    SegmentLedger.withWriter(s, path, "removeFromHashLedger") {
      require(SegmentLedger.segments(s, path, "hashes").nonEmpty,
        s"no hash ledger at $path")
      val dead = hashes.select("content_hash").distinct()
      SegmentLedger.tomb(s, path,
        prunedByPrefix(readHashLedger(s, path), dead).select("content_hash")
          .join(broadcast(dead), Seq("content_hash"), "left_semi"))
    }

  // ---- d13 band-ledger TOMBSTONES (r20) -----------------------------
  // The band ledger stores each doc's FULL shingle set — at 100 TB it
  // is the largest state in the system, so a takedown must not rewrite
  // it. A takedown appends `tomb` records to the segment ledger's
  // tombstone log (takedown-sized, committed by the same marker chain
  // as the index segments), every read goes through [[readBandLedger]]
  // which anti-joins the broadcast live tombstone set, and the
  // physical purge rides [[compactBandLedger]]. Invariant maintained
  // by the writers: tombstones ⊆ ledger doc_ids — so a tombstone
  // always shadows real rows and re-admission (refresh) can resurrect
  // with an `untomb` record instead of re-indexing (the rows are still
  // in place, keyed by the same doc_id the refresh would never
  // re-index anyway).

  /** The live tombstone set (distinct doc_ids), or None when no
    * takedown is outstanding. Takedown-sized by the append-∩-ledger
    * discipline — always broadcastable.
    */
  private[graft] def readBandTombstones(s: SparkSession,
      path: String): Option[DataFrame] =
    if (SegmentLedger.segments(s, path, "tombs").isEmpty) None
    else Some(SegmentLedger.tombs(s, path, "doc_id")).filter(!_.isEmpty)

  /** THE read seam for the d13 band ledger — every consumer (the d13
    * probe, ST10's static side, the scale bench) reads through here so
    * outstanding takedowns are invisible everywhere at once: the
    * broadcast anti-join costs one map-side probe per ledger row, and
    * before any takedown the frame is the bare scan. Physical rows
    * linger until [[compactBandLedger]] purges them.
    */
  private[graft] def readBandLedger(s: SparkSession,
      path: String): DataFrame =
    SegmentLedger.live(s, path, "index", "doc_id")

  /** TAKEDOWN for the d13 band-index ledger: shadow the removed
    * documents' index rows — their band keys stop routing candidates
    * and their shingle sets stop serving as verify payload through
    * [[readBandLedger]], so reclaimed content re-evaluates as novel.
    * O(takedown + one column-pruned id scan) per request, NEVER
    * O(ledger): the request commits one takedown-sized tombstone
    * segment; the index files are untouched (IO-gated in
    * LedgerTakedownSpec). Idempotent — already-tombstoned or absent ids
    * append nothing.
    */
  private[graft] def removeFromBandLedger(s: SparkSession, path: String,
      docIds: DataFrame): Unit =
    SegmentLedger.withWriter(s, path, "removeFromBandLedger") {
      require(SegmentLedger.segments(s, path, "index").nonEmpty,
        s"no band ledger at $path")
      // tombstone only LIVE ledger ids (broadcast semi over the id
      // column — pruned to one column, the same cost class as the hash
      // ledger's prefix-pruned probe): preserves tombstones ⊆ ledger
      // ids and makes the removal idempotent at zero bytes
      SegmentLedger.tomb(s, path, readBandLedger(s, path).select("doc_id")
        .join(broadcast(docIds.select("doc_id").distinct()),
          Seq("doc_id"), "left_semi")
        .distinct())
      s.catalog.refreshByPath(path)
    }

  /** Compaction for the d13 band ledger: the live rows (tombstones
    * applied — the physical purge) packed into one seg=0 of
    * ⌈bytes/128 MB⌉ files, staged and swapped in
    * ([[graft.state.SegmentLedger.compact]]). The compacted ledger
    * carries no tombstone log; its live read is unchanged.
    */
  private[graft] def compactBandLedger(s: SparkSession,
      path: String): Unit =
    SegmentLedger.compact(s, path, "compactBandLedger") { staging =>
      val index = new org.apache.hadoop.fs.Path(path, "index")
      val bytes = index.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(index).getLength
      val nFiles = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20))
      SegmentLedger.write(readBandLedger(s, path).repartition(nFiles.toInt),
        staging, "index", 0)
    }

  /** The d13 band probe: batch index rows against a ledger-index frame
    * (either side in the [[minhashIndex]] schema) — band equi-join +
    * first-collision filter + exact sorted-merge Jaccard at
    * [[jaccardT]]. One definition, shared by the d13 QueryDef and
    * `Bench ledger bandTakedown`'s flat-growth probe rows, so the bench can
    * never drift from the operator it claims to time.
    */
  private[graft] def nearDupProbe(batchIdx: DataFrame,
      ledger: DataFrame): DataFrame = {
    val bBands = batchIdx
      .select(col("doc_id").as("i"), col("sh").as("sha"),
        col("n").as("na"), col("keys").as("keysA"),
        posexplode(col("keys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    // ledger side reads STORED arrays — explode costs nothing extra
    val lBands = ledger
      .select(col("doc_id").as("j"), col("sh").as("shb"),
        col("n").as("nb"), col("keys").as("keysB"),
        posexplode(col("keys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
    // first-collision filter (the d3/d8 discipline): a pair sharing
    // k bands leaves the probe join once, at its first shared band
    val shared = org.apache.spark.sql.GraftBridge.column(
      graft.functions.SortedLongIntersectCount(
        org.apache.spark.sql.GraftBridge.expression(col("sha")),
        org.apache.spark.sql.GraftBridge.expression(col("shb"))))
    bBands.as("a").join(lBands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          graft.functions.VectorFunctions.firstEqualIndex(
            col("a.keysA"), col("b.keysB")) === col("a.band"))
      .withColumn("shared", shared)
      .withColumn("jaccard", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= jaccardT)
      .select(col("i"), col("j"),
        col("shared").cast(LongType).as("shared"), col("jaccard"))
  }

  private val d13 = QueryDef(
    "d13_incremental_neardup",
    (s, dir) => {
      val all = docs(s, dir)
      val path = d13LedgerPath(dir)
      refreshNearDupLedger(s, path,
        all.filter(col("source") =!= "src0").select("doc_id", "text"))
      // batch index: computed arrays BARRIER'd before the explode (the
      // d8/s2 discipline); batch-sized, so the scratch is tiny and the
      // band probe's build side broadcasts at any corpus size
      val batchIdx = graft.operators.ScratchCache.scratch(
        minhashIndex(all.filter(col("source") === "src0")
          .select("doc_id", "text")))
      nearDupProbe(batchIdx, readBandLedger(s, path)).orderBy("i", "j")
    },
    Some(s"""WITH sh2 AS (
       |  SELECT doc_id, source,
       |    list_distinct([list_aggregate(words[i:i+2], 'string_agg', ' ')
       |                   for i in range(1, len(words)-1)]) AS sh
       |  FROM (SELECT doc_id, source, string_split(text,' ') AS words
       |        FROM documents)
       |), tokb AS (
       |  SELECT doc_id, unnest(sh) AS t FROM sh2 WHERE source = 'src0'
       |), tokp AS (
       |  SELECT doc_id, unnest(sh) AS t FROM sh2 WHERE source <> 'src0'
       |), cnt AS (SELECT doc_id, len(sh) AS n FROM sh2),
       |opairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared
       |  FROM tokb a JOIN tokp b ON a.t = b.t GROUP BY 1, 2
       |)
       |SELECT i, j, shared,
       |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE)
       |    AS jaccard
       |FROM opairs
       |JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE)
       |  >= $jaccardT
       |ORDER BY i, j""".stripMargin))

  // --------------------------------------------------------------- D15
  // SemDeDup-style SEMANTIC keep-rule (Abbas et al. 2023): where d10
  // clusters the LSH-bucketed pair graph, d15 runs the keep-one step
  // over the corpus kNN GRAPH (s9's top-KG edges) — connected
  // components over edges with cosine ≥ [[cosT]], keep the min vec_id
  // per component. The kNN graph is the index a modern pipeline
  // already maintains (s9/s10), so the keep-rule is a FILTER + CC over
  // it — no new corpus-scale candidate generation: edge volume is
  // ≤ n·KG (output-sized), and the CC is the d6/d10 min-label
  // machinery, O(log diameter) rounds over ≤ n·KG edges.
  //
  // Oracle: s9's two-stage discipline — DuckDB re-ranks the tapped
  // candidates to the exact top-KG graph (knnGraphCtes), applies the
  // same cosine filter, and re-derives the components via the
  // recursive min-label CTE (the d6/d10 pattern) — the graph, the
  // threshold filter, and the clustering are all cross-checked.
  /** The SemDeDup keep-rule over the corpus kNN graph from `source` —
    * d15 (rebuild) and d15l (ledger) share this body; only the graph
    * source and tap name differ.
    */
  private[graft] def semanticKeepOver(s: SparkSession, dir: String,
      source: SimilarityOps.KnnGraphSource, tap: String): DataFrame = {
    // the kNN edges are output-sized: checkpoint so CC's sym union
    // + rounds replay the edge table, not the graph-build lineage
    // (the d6/d7/d10 discipline)
    // ScratchCache, NOT localCheckpoint: the pin must replay blocks
    // (d6/d10 discipline), but localCheckpoint materializes through
    // the toRdd path, which at sf10 measured 367 s vs 145 s for the
    // identical plan through a normal action — the candidate join's
    // skewed cells lose their adaptive handling there (LedgerScale-
    // Bench d15 A/B)
    val edges = graft.operators.ScratchCache.scratch(
      SimilarityOps.knnGraph(s, dir, Some(tap), source)
        .filter(col("cosine") >= cosT)
        .select(col("qid").as("src"), col("neighbor_id").as("dst")))
    // CC sees only edge-TOUCHED vectors: a vector with no edge over
    // the threshold is its own component and keeps itself by
    // definition, so it must not ride the O(rounds) label
    // propagation — at sf10 that cut the CC input from 200k nodes to
    // the near-dup minority and d15 from 251 to ~s9-plus-CC seconds
    val touched = graft.operators.ScratchCache.scratch(
      edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id")))
        .distinct())
    val nodes = Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("id"))
    val clustered = graft.operators.ConnectedComponents
      .run(touched, edges)
      .filter(col("id") === col("component")) // keepers label themselves
      .select(col("id").as("vec_id"))
    val singletons = nodes.join(touched, Seq("id"), "left_anti")
      .select(col("id").as("vec_id"))
    clustered.unionByName(singletons).orderBy("vec_id")
  }

  private def semanticKeepOracle(tap: String): String =
    s"""WITH RECURSIVE ${SimilarityOps.knnGraphCtes(tap)},
       |good AS (
       |  SELECT qid AS i, vec_id AS j FROM granked WHERE cosine >= $cosT
       |),
       |edges AS (SELECT i AS a, j AS b FROM good
       |          UNION ALL SELECT j, i FROM good),
       |reach AS (
       |  SELECT vec_id AS node, vec_id AS lab FROM embeddings
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |)
       |SELECT node AS vec_id FROM reach
       |GROUP BY node HAVING node = MIN(lab)
       |ORDER BY vec_id""".stripMargin

  private val d15 = QueryDef(
    "d15_semantic_keep",
    (s, dir) => semanticKeepOver(s, dir, SimilarityOps.RebuildGraph,
      "d15_cand"),
    Some(semanticKeepOracle("d15_cand")))

  // The ledger-sourced twin (the d8/d8i discipline): identical
  // keep-rule, graph READ from the maintained s10 ledger instead of
  // rebuilt. This is the production daily shape — the rebuild twin
  // pays the one-shot n^1.5 graph build (ONCE since r18's tap-routed
  // knnGraphEdges; r16/r17 paid it twice — tap + pin); here the edge
  // input is a partition-committed parquet read, so the wall is
  // ~CC + read. Oracle identical: the tap carries the ledger's
  // per-segment edge union and DuckDB re-derives graph, threshold,
  // and components from scratch. The ledger is SHARED persisted state
  // with s10/s11l — that is the point (consumers read the index the
  // pipeline maintains) — so the stored quantizer reflects whichever
  // run bootstrapped it first (s10's subset-bootstrap scenario vs a
  // full-corpus bootstrap here): rows can differ across that history,
  // but every run stays hash-green under any order because the tap
  // carries the ACTUAL candidates the ledger produced; exact
  // rebuild-equality is asserted where it is defined — against a
  // fresh same-corpus ledger (DedupConsistencySpec twin).
  private val d15l = QueryDef(
    "d15l_semantic_keep_ledger",
    (s, dir) => semanticKeepOver(s, dir,
      SimilarityOps.LedgerGraph(SimilarityOps.s10LedgerPath(dir)),
      "d15l_cand"),
    Some(semanticKeepOracle("d15l_cand")))

  // --------------------------------------------------------------- D16
  // BLOOM-GUARDED incremental dedup — d9's daily-ingest shape with the
  // ledger anti-join demoted to a rare path. d9's plan joins EVERY
  // batch row against the (prefix-pruned) hash ledger; at a 100 TB
  // corpus that is a daily shuffle of the whole batch against a 32 GB
  // hash set even though almost every row is novel. Here a Bloom
  // filter maintained BESIDE the ledger ([[graft.functions
  // .BloomMembership]] — Spark's own codegen'd `BloomFilterAggregate`
  // to build, the compact [[graft.functions.BloomGuard]] probe to
  // test, the same shape as the optimizer's runtime filters) answers
  // "definitely not in the ledger" map-side at scan speed: negatives
  // pass straight through with NO join, and only the positives (true
  // re-ingests + the ~2% false-positive tail) pay the exact
  // prefix-pruned anti-join. Bloom filters have no false negatives, so
  // the result is EXACT — the oracle is the same from-scratch
  // derivation as d9's.
  //
  // State protocol (the marker-last discipline): the filter lives
  // under `_bloom/` INSIDE the ledger dir (beside the segment
  // sub-tables, never read as one) as immutable `v{N}.bloom` versions
  // plus a `_CURRENT` marker. Every APPEND refresh writes the NEW
  // filter (stored ∪ this run's hashes — one partial-agg pass,
  // bitwise-OR mergeable, never an item collect) and flips the marker
  // BEFORE committing the novel hashes' segment, so any crash point
  // leaves either bloom ⊇ ledger or NO committed filter — the two
  // states correctness rides on: an over-approximate filter only sends
  // extra rows to the exact check, and an absent one degrades to the
  // full exact join (d9's plan).
  // A missing/incompatible filter (manual deletion, sizing change)
  // degrades to a one-time rebuild from the full ledger, never to a
  // wrong answer; replay is idempotent. Scale: the probe is one
  // in-codegen bitmap test per row; the 1 MB bitmap (1.3 GB at 10⁹
  // hashes — one torrent broadcast, or 16 prefix shards) replaces the
  // per-batch ledger shuffle, and filter + ledger maintenance are both
  // O(novel).
  private[graft] def d16LedgerPath(dir: String): String = StatePath(dir, "d16_ledger", "_p2")

  private def bloomMarker(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_bloom/_CURRENT")

  /** The committed Bloom sidecar, or None before bootstrap. */
  private[graft] def readBloom(s: SparkSession,
      path: String): Option[Array[Byte]] = {
    val marker = bloomMarker(path)
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val v = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      val vf = new org.apache.hadoop.fs.Path(s"$path/_bloom/$v.bloom")
      if (!fs.exists(vf)) None
      else {
        val st = fs.getFileStatus(vf)
        // a caller-sized filter (numBits is configurable) past 2 GiB
        // would overflow the Int allocation below into a
        // NegativeArraySizeException — fail with the real reason
        require(st.getLen <= Int.MaxValue.toLong,
          s"Bloom sidecar $vf is ${st.getLen} bytes — filters ≥ 2 GiB " +
            "cannot load as one array; shard by hash prefix instead " +
            "(BloomMembership sizing notes)")
        val bytes = new Array[Byte](st.getLen.toInt)
        val din = fs.open(vf)
        try din.readFully(0L, bytes) finally din.close()
        Some(bytes)
      }
    }
  }

  /** One partial-agg pass → serialized filter of a hash column (the
    * empty filter when the frame is empty — never null).
    */
  private def buildBloom(hashes: DataFrame): Array[Byte] =
    Option(hashes.agg(graft.functions.BloomMembership
        .bloomAgg(xxhash64(col("content_hash"))).as("bits"))
      .head.getAs[Array[Byte]]("bits"))
      .getOrElse(graft.functions.BloomMembership.serialize(
        org.apache.spark.util.sketch.BloomFilter.create(
          graft.functions.BloomMembership.defaultNumItems,
          graft.functions.BloomMembership.defaultNumBits)))

  /** Every committed `vN.bloom` version on disk — the marker-less
    * source of truth for lineage recovery and orphan GC.
    */
  private def bloomVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/_bloom")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).flatMap { n =>
      if (n.startsWith("v") && n.endsWith(".bloom"))
        scala.util.Try(
          n.stripPrefix("v").stripSuffix(".bloom").toLong).toOption
      else None
    }
  }

  /** Commit a new filter version under `_bloom/`, marker last;
    * superseded and orphaned versions are GC'd best-effort after the
    * flip.
    */
  private def commitBloom(fs: org.apache.hadoop.fs.FileSystem,
      path: String, bits: Array[Byte]): Unit = {
    val marker = bloomMarker(path)
    // a missing/unparsable marker (a crash in the delete→rename window
    // below, or a manual truncation) falls back to the LISTING: the
    // lineage resumes at max(vN)+1 instead of restarting at v1 — a
    // restart would strand the old vN forever (the `prev`-targeted GC
    // never reaches it) and accumulate sidecar garbage across such
    // crashes (r19-advice). Self-heals rather than wedging on
    // NumberFormatException (the documented contract).
    val prev = (if (fs.exists(marker)) {
      val in = fs.open(marker)
      val txt = try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      scala.util.Try(txt.stripPrefix("v").toLong).toOption
    } else None)
      .getOrElse(bloomVersions(fs, path).foldLeft(0L)(math.max))
    val vname = s"v${prev + 1}"
    val vf = new org.apache.hadoop.fs.Path(s"$path/_bloom/$vname.bloom")
    val out = fs.create(vf, true)
    try out.write(bits) finally out.close()
    // marker flip is WRITE-TEMP + RENAME, never an in-place overwrite:
    // fs.create(marker, true) truncates first, so a crash between
    // truncate and close would leave an empty marker; a rename is the
    // filesystem's atomic unit (the segment-commit discipline)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$path/_bloom/_CURRENT.tmp${System.nanoTime()}")
    val mout = fs.create(tmp, true)
    try mout.write(vname.getBytes("UTF-8")) finally mout.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    require(fs.rename(tmp, marker),
      s"could not promote Bloom marker $tmp -> $marker")
    // sweep EVERY non-current version, not just `prev` — collects
    // orphans a marker-window crash left unreferenced (r19-advice)
    bloomVersions(fs, path).filter(_ != prev + 1).foreach { v =>
      try fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/_bloom/v$v.bloom"), false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** d9's [[refreshLedger]] with the Bloom sidecar maintained under
    * the crash ordering the d16 header argues: the filter flips BEFORE
    * the segment's commit marker (a stale filter over a grown ledger
    * would yield false negatives = wrong answers; the reverse is only
    * over-approximate). The bootstrap sketches the just-written segment
    * (a column read — cheaper than re-deriving the corpus-sized prior
    * pipeline); a crash before its marker leaves no ledger, and one
    * between the two leaves a filter over a ledger that does not exist
    * yet — over-approximate, and replaced at the next bootstrap.
    *
    * Filter maintenance is O(novel), matching the ledger's own
    * contract: the stored filter already covers every ledgered hash
    * (superset invariant), so only the novel remainder — computed once,
    * shared with the append — is sketched and OR'd in. The steady
    * state (all hashes known) touches NEITHER file: no segment is
    * committed and the filter keeps its committed version, so the
    * whole refresh is one anti-join, exactly d9's.
    */
  private[graft] def refreshLedgerBloomed(s: SparkSession, path: String,
      prior: DataFrame): Unit = {
    import graft.functions.BloomMembership
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // one writer at a time: two racing refreshes would each commit
    // stored ∪ own-novel (commitBloom's read-increment-write clobbers
    // the other's version) while BOTH append, leaving the committed
    // filter missing the loser's hashes — false negatives, i.e. wrong
    // answers. The writer's entry heal also runs BEFORE the refresh, so
    // a torn compaction is restored first and takes the append path
    // (flip BEFORE commit), never a bootstrap over it.
    SegmentLedger.withWriter(s, path, "refreshLedgerBloomed") {
      SegmentLedger.appendNovel(s, path, "hashes", "content_hash", prior)(
        writeHashes(path), {
          case (k, None) => commitBloom(fs, path, buildBloom(SegmentLedger
            .readSegment(s, path, "hashes", k).select("content_hash")))
          case (_, Some(novel)) =>
            val merged: Array[Byte] = (readBloom(s, path) match {
              case Some(stored) =>
                try Some(BloomMembership.merge(stored, buildBloom(novel)))
                catch { // sizing changed: rebuild from ledger ∪ novel, once
                  case _: org.apache.spark.util.sketch
                      .IncompatibleMergeException => None
                }
              case None => None // ledger without filter: rebuild, once
            }).getOrElse(buildBloom(
              readHashLedger(s, path).select("content_hash")
                .unionByName(novel.select("content_hash"))))
            commitBloom(fs, path, merged) // flip BEFORE the commit
        })
      // nothing novel but the filter is missing (manual deletion):
      // self-heal from the standing ledger
      if (readBloom(s, path).isEmpty) commitBloom(fs, path,
        buildBloom(readHashLedger(s, path).select("content_hash")))
    }
  }

  /** The dedup plan itself: Bloom-negative rows bypass the join
    * entirely; positives pay the exact prefix-pruned anti-join. With
    * no committed filter, degrades to d9's full anti-join — never
    * wrong, only slower.
    */
  private[graft] def bloomGuardedDedup(batch: DataFrame, ledger: DataFrame,
      bloom: Option[Array[Byte]]): DataFrame = {
    val hashed = batch.withColumn("content_hash", md5(col("text")))
    val novel = bloom match {
      case None =>
        hashed.join(prunedByPrefix(ledger, hashed).select("content_hash"),
          Seq("content_hash"), "left_anti")
      case Some(bits) =>
        // null content_hash (null text) routes to the JOIN branch
        // explicitly: a null key never matches in left_anti, so such
        // rows are KEPT — identical to the bloom=None (d9) plan. Left
        // to the probe's own null semantics the row could fail both
        // `mc` and `!mc` and silently vanish, breaking the "degrades
        // to d9, never a wrong answer" equivalence.
        val mc = col("content_hash").isNull ||
          graft.functions.BloomMembership
            .mightContain(bits, xxhash64(col("content_hash")))
        val cand = hashed.filter(mc)
        hashed.filter(!mc).unionByName(
          cand.join(prunedByPrefix(ledger, cand).select("content_hash"),
            Seq("content_hash"), "left_anti"))
    }
    novel.groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  private val d16 = QueryDef(
    "d16_bloom_dedup",
    (s, dir) => {
      val all = docs(s, dir)
      val prior = all.filter(col("source") =!= "src1")
        .select(md5(col("text")).as("content_hash")).distinct()
      val path = d16LedgerPath(dir)
      refreshLedgerBloomed(s, path, prior)
      bloomGuardedDedup(all.filter(col("source") === "src1"),
        readHashLedger(s, path), readBloom(s, path))
        .orderBy("content_hash")
    },
    Some("""WITH ledger AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src1'
       |), batch AS (
       |  SELECT md5(text) AS content_hash, doc_id
       |  FROM documents WHERE source = 'src1'
       |)
       |SELECT content_hash, MIN(doc_id) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies
       |FROM batch
       |WHERE content_hash NOT IN (SELECT content_hash FROM ledger)
       |GROUP BY content_hash ORDER BY content_hash""".stripMargin))

  // --------------------------------------------------------------- D17
  // Reclaimed-content re-ingest — the takedown path DRIVEN through the
  // oracle gate: a deterministic slice of the standing corpus'
  // ledgered hashes is taken down (removeFromHashLedger's one
  // tombstone segment), and today's batch then dedups against the
  // SHRUNK ledger, so re-submissions of reclaimed content come back
  // NOVEL while still-standing hashes keep deduping. The oracle
  // re-derives the post-takedown ledger from scratch (full set EXCEPT
  // the removed-rule set — on HASHES, matching the operator: a hash
  // shared by a removed and a standing document leaves with the
  // takedown), so the persisted removal's end state is hash-verified,
  // not just spec'd. Own ledger path; takedown rule doc_id % 7 = 2
  // over the prior corpus (the s13/q42 deterministic-split shape).
  private[graft] def d17LedgerPath(dir: String): String = StatePath(dir, "d17_ledger", "_p2")

  private val d17 = QueryDef(
    "d17_reclaimed_reingest",
    (s, dir) => {
      val all = docs(s, dir)
      val prior = all.filter(col("source") =!= "src2")
        .select(md5(col("text")).as("content_hash")).distinct()
      val path = d17LedgerPath(dir)
      refreshLedger(s, path, prior)
      val reclaimed = all.filter(col("source") =!= "src2" &&
          pmod(col("doc_id"), lit(7)) === 2)
        .select(md5(col("text")).as("content_hash")).distinct()
      removeFromHashLedger(s, path, reclaimed)
      incrementalDedup(all.filter(col("source") === "src2"),
        readHashLedger(s, path))
        .orderBy("content_hash")
    },
    Some("""WITH ledger AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src2'
       |), removed AS (
       |  SELECT DISTINCT md5(text) AS content_hash
       |  FROM documents WHERE source <> 'src2' AND doc_id % 7 = 2
       |), live AS (
       |  SELECT content_hash FROM ledger
       |  EXCEPT SELECT content_hash FROM removed
       |), batch AS (
       |  SELECT md5(text) AS content_hash, doc_id
       |  FROM documents WHERE source = 'src2'
       |)
       |SELECT content_hash, MIN(doc_id) AS keep_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies
       |FROM batch
       |WHERE content_hash NOT IN (SELECT content_hash FROM live)
       |GROUP BY content_hash ORDER BY content_hash""".stripMargin))

  override val queries: Seq[QueryDef] =
    Seq(d1, d2, d3, d4, d5, d6, d7, d8, d8i, d9, d10, d11, d12, d13, d14,
      d15, d15l, d16, d17)
}
