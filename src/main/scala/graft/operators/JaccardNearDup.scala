package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Set-similarity self-join: all pairs with Jaccard ≥ t, via PPJoin-style
  * prefix filtering (Xiao/Wang/Lin/Yu, "Efficient similarity joins for
  * near duplicate detection", WWW 2008): under ANY global total token
  * order, J(x,y) ≥ t implies the first |x|−⌈t·|x|⌉+1 tokens of x and y
  * share an element, so candidate generation is an equi-join on prefix
  * tokens only — the O(n²) all-pairs join never materializes. Exact
  * `array_intersect` verification filters false positives, so the result
  * is EXACT for either ordering.
  *
  * Two orderings:
  *  - default: the tokens' own (numeric) order — zero extra shuffles,
  *    the prefix is a `slice` straight off the sorted token array.
  *  - `dfOrdered = true`: ascending document frequency — two extra
  *    shuffles (df count + per-doc re-rank), but prefix buckets hold the
  *    RAREST tokens, which is the skew armor for Zipfian corpora where
  *    a frequent token would otherwise form one giant join bucket. At
  *    100 TB with natural-language shingles this is the ordering to run.
  *
  * @param toks (id, tokens) — tokens must be SORTED distinct longs
  *             (hash tokens first; see DedupOps.shingled)
  * @return (i, j, shared, jaccard) with i < j, jaccard ≥ t
  */
object JaccardNearDup {

  /** Corpus size at which [[pairsAuto]] flips to the df-ordered prefix.
    *
    * The armor is NOT free, so this is a measured trade, not a free
    * insurance policy. Against it: on a NATURAL (no hot-token) corpus
    * the df ordering's two extra shuffles measure 2.1–2.2× on d2/d7 at
    * 50k docs (r7, `Bench slice` on the ScaleUp corpus) — doubling every
    * well-behaved run. For it: natural-language shingle corpora are
    * Zipfian, and under the plain token order one frequent token
    * sitting inside every prefix forms a single O(n²) candidate
    * bucket — the df-ordered prefix measures 1.8× faster on
    * that adversarial worst case at 50k docs (42 → 23 s, BASELINE
    * §skew; only 1.2× at 5k, where the unique-set armor absorbs most
    * of it), and the gap grows quadratically in n while the armor's
    * cost grows linearly. The crossover regime is O(100k) docs: below,
    * the bounded worst case costs less than doubling every normal run;
    * above, the quadratic risk dominates and the armor engages. Every
    * driver SF (and the sf1 bench corpus) stays on the
    * zero-extra-shuffle plan. Both orderings are result-identical
    * (spec-proven), so the switch can never change output — only the
    * plan.
    */
  val dfOrderMinDocs: Long = 100000L

  /** Hot-token demotion thresholds (the r14 armor — see `pairs`):
    * tokens with document frequency ≥ [[hotDfMin]] are demotion
    * CANDIDATES (a prefix token with df d forms a d²-pair candidate
    * bucket; 64² = 4k pairs per token is the tolerated floor), and the
    * collected hot set is capped at the [[hotMaxSet]] highest-df
    * tokens (≤ 512 KB of longs — driver-safe at ANY corpus size, and
    * under Zipf the head is where all the quadratic mass sits).
    */
  val hotDfMin: Long = 64L
  val hotMaxSet: Int = 65536

  /** The hot-demotion ordering's build step, shared by the Jaccard and
    * containment ([[ContainmentNearDup]]) hot arms: collect the Zipf
    * head of `setsDf`'s token vocabulary (df ≥ [[hotDfMin]], top
    * [[hotMaxSet]] — a bounded, driver-safe collect at any corpus
    * size) and return `toksCol` reordered so hot tokens sit below
    * every rare token ((isHot, tok) — a total order shared by every
    * row). Empty head (a natural corpus) returns the column unchanged.
    */
  /** Per-frame memo for the Zipf-head collect below: the head build is
    * an EAGER corpus-scale job (explode + groupBy + driver collect)
    * that would otherwise run at PLAN-CONSTRUCTION time on every
    * `pairsAuto` call over the same corpus — including explain-only
    * paths and repeated `pairs()` calls in one session. Keyed by the
    * frame's semantic hash + column; a hash collision could only swap
    * in a different demotion ORDER, which is result-identical by the
    * `pairs` contract (orderings change the plan, never the output).
    * Bounded: cleared past 64 entries (sessions see a handful of
    * corpora; the test suite cycles more).
    */
  private val hotHeadCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, String), Array[Long]]()

  private[operators] def demotedByZipfHead(setsDf: DataFrame,
      toksCol: String): org.apache.spark.sql.Column = {
    if (hotHeadCache.size > 64) hotHeadCache.clear()
    // key widened past the 32-bit semanticHash (CANONICALIZED
    // plan-string hash rides along — the raw plan string embeds fresh
    // exprIds, which would give logically-equal frames built
    // separately different keys and defeat the memo's documented
    // cross-build purpose; canonicalization normalizes them) so a
    // cross-corpus collision is implausible, and the
    // corpus-scale collect runs OUTSIDE the map's bin lock
    // (get → compute → putIfAbsent, not computeIfAbsent) so concurrent
    // pairsAuto callers hashing to the same bin never block on a Spark
    // job (r16 advisory); a lost race recomputes the same
    // deterministic head — idempotent, and output-identical anyway by
    // the pairs total-order contract
    val key = (setsDf.semanticHash(),
      setsDf.queryExecution.logical.canonicalized.toString.hashCode,
      toksCol)
    val hot = {
      val cached = hotHeadCache.get(key)
      if (cached != null) cached
      else {
        val built = setsDf.select(explode(col(toksCol)).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") >= hotDfMin)
          .orderBy(col("df").desc, col("tok")).limit(hotMaxSet)
          .collect().map(_.getLong(0)).sorted
        val prior = hotHeadCache.putIfAbsent(key, built)
        if (prior != null) prior else built
      }
    }
    if (hot.isEmpty) col(toksCol)
    else org.apache.spark.sql.GraftBridge.column(
      graft.functions.DemoteHotTokens(
        org.apache.spark.sql.GraftBridge.expression(col(toksCol)),
        new graft.functions.LongArrayParam(hot)))
  }

  /** [[pairs]] with the ordering auto-selected from the corpus size
    * (`nDocs` — a parquet metadata count upstream, no data scan).
    * Large corpora get the r14 HOT-DEMOTED prefix (the same skew kill
    * as the r7 df-ordered window arm — the Zipf head never enters a
    * prefix — at a fraction of its cost: one vocabulary-bounded
    * partial agg + a driver-sized collect instead of a corpus-exploded
    * token join + per-doc window; measured head-to-head in BASELINE
    * §skew and §sf10 r14).
    */
  def pairsAuto(toks: DataFrame, idCol: String, toksCol: String,
      t: Double, nDocs: Long): DataFrame = {
    val large = nDocs >= dfOrderMinDocs
    pairs(toks, idCol, toksCol, t, hotDemoted = large, noBroadcast = large)
  }

  /** `noBroadcast = true` puts explicit sort-merge hints on every
    * corpus-derived join side (the d3/d8 discipline). Catalyst's
    * size-only estimates undervalue computed shingle tables
    * (unknown-width array projections under Generate) enough to plan
    * corpus-sized BROADCASTS: at 500k docs (sf10 probe) the static
    * plan tried to broadcast the prefix and set tables and died on the
    * driver's broadcast-build guard, while at driver SFs those same
    * broadcasts are genuinely optimal (KB-sized sides; forcing merge
    * everywhere measured 3-4x on d2/d6/d7/p1 at sf0.1). Size-keyed by
    * [[pairsAuto]] alongside dfOrdered: both armor arms engage
    * together at >= [[dfOrderMinDocs]]. Result-identical either way
    * (the hint changes join STRATEGY, never join semantics).
    */
  def pairs(toks: DataFrame, idCol: String, toksCol: String,
      t: Double, dfOrdered: Boolean = false,
      noBroadcast: Boolean = false,
      hotDemoted: Boolean = false): DataFrame = {
    require(!(dfOrdered && hotDemoted),
      "dfOrdered and hotDemoted are alternative orderings — pick one")
    def nb(df: DataFrame): DataFrame =
      if (noBroadcast) df.hint("merge") else df
    // corpus-sized scratch: explicit level + releasable, see ScratchCache
    val members = ScratchCache.scratch(
      toks.select(col(idCol).as("doc_id"), col(toksCol).as("sh"))
        .withColumn("n", size(col("sh"))))
    // prefix keys + verification run over UNIQUE shingle sets: a dedup
    // corpus is dup-heavy by definition, and a mass-duplicate group of
    // m rows sharing one set would otherwise push m copies of every
    // prefix token through the candidate join and verify m²/2 times.
    // Row pairs are recovered after verification (cross-group streams
    // out of a join; within-group pairs are jaccard 1.0 by identity).
    val sh = ScratchCache.scratch(members.groupBy("sh", "n")
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "sh", "n"))
    val prefLen = (col("n") - ceil(col("n") * t) + 1).cast("int")

    // each prefix token carries its 1-based POSITION under the global
    // token order (the array's own sort by default; (isHot, tok) when
    // hot-demoted; (df, tok) when df-ordered) — it feeds the PPJoin+
    // positional filter below
    val prefix =
      if (hotDemoted) {
        // r14 skew armor: the Zipf head is DEMOTED below every rare
        // token, so no hot token can enter a prefix (same kill as the
        // df-ordered window arm — a d²-pair bucket needs its token in
        // d prefixes) without the corpus-exploded df JOIN + per-doc
        // window that arm pays. Cost: one vocabulary-bounded
        // partial-agg scan + a ≤ hotMaxSet driver collect (the d9
        // prefix-set class, 512 KB ceiling) + a per-row two-pointer
        // merge ([[graft.functions.DemoteHotTokens]]). (isHot, tok) is
        // a total order shared by every doc, so the PPJoin prefix and
        // positional bounds hold unchanged; results are
        // order-invariant (spec-proven across all three arms).
        val reordered = demotedByZipfHead(sh, "sh")
        sh.select(col("doc_id"), col("n"),
          posexplode(slice(reordered, lit(1), prefLen))
            .as(Seq("pos0", "tok")))
          .select(col("doc_id"), col("n"), col("tok"),
            (col("pos0") + 1).as("pos"))
      } else if (!dfOrdered)
        sh.select(col("doc_id"), col("n"),
          posexplode(slice(col("sh"), lit(1), prefLen))
            .as(Seq("pos0", "tok")))
          .select(col("doc_id"), col("n"), col("tok"),
            (col("pos0") + 1).as("pos"))
      else {
        // re-rank each doc's tokens by (global df asc, tok) and keep the
        // prefix of RAREST tokens — same lossless bound, smallest buckets
        val tok = sh.select(col("doc_id"), col("n"),
          explode(col("sh")).as("tok"))
        val df = tok.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("tok"))
        // df is vocabulary-sized — same no-broadcast discipline
        tok.join(nb(df), "tok")
          .withColumn("pos", row_number().over(w))
          .filter(col("pos") <= col("n") - ceil(col("n") * t) + 1)
          .select("doc_id", "n", "tok", "pos")
      }

    // POSITIONAL filter (PPJoin+'s bound, symmetric form — Xiao et al.
    // 2008 §3.2, the same bound d12 carries one-sided): a shared token
    // at positions (pa, pb) caps the overlap at c = 1 + min(n_a − pa,
    // n_b − pb) — every other shareable token sits in BOTH suffixes —
    // and J ≥ t needs overlap·(1+t) ≥ t·(n_a + n_b), so a candidate
    // occurrence with c·(1+t) < t·(n_a + n_b) cannot qualify. Lossless
    // for the pair set: take a qualifying pair's FIRST shared token
    // under the global order — it sits inside BOTH prefixes (J ≥ t and
    // the length filter give overlap ≥ t·n_a and ≥ t·n_b, so a later
    // first-share would leave too few suffix tokens on that side), and
    // all overlap shared tokens sit at-or-after it in both sorted
    // lists, so that occurrence's cap is ≥ overlap and it survives.
    // The 1e-9 slack makes float rounding one-sided: it can only ADMIT
    // a boundary candidate (exact verification kills it), never drop
    // one. Kills doomed candidates BEFORE the verify join fetches full
    // token arrays — at sf10 those rides were d2's dominant cost.
    val cand = prefix.as("a").join(nb(prefix.as("b")).as("b"),
      col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        // length filter: J ≥ t ⇒ t·|y| ≤ |x| (and symmetric)
        col("a.n") >= col("b.n") * t &&
        col("b.n") >= col("a.n") * t &&
        (lit(1) + least(col("a.n") - col("a.pos"),
          col("b.n") - col("b.pos"))) * (1.0 + t) >=
          (col("a.n") + col("b.n")) * t - 1e-9)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    // duplicate candidates (several shared prefix tokens) are verified
    // redundantly and deduped AFTER the ≥t filter, where rows are few
    val setPairs = cand
      .join(nb(sh.select(col("doc_id").as("i"), col("sh").as("sha"),
        col("n").as("na"))), "i")
      .join(nb(sh.select(col("doc_id").as("j"), col("sh").as("shb"),
        col("n").as("nb"))), "j")
      // native merge-count (inputs are sorted distinct per the contract
      // above); == size(array_intersect(…)), spec-asserted
      .withColumn("shared", org.apache.spark.sql.GraftBridge.column(
        graft.functions.SortedLongIntersectCount(
          org.apache.spark.sql.GraftBridge.expression(col("sha")),
          org.apache.spark.sql.GraftBridge.expression(col("shb")))))
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= t)
      .select(col("i"), col("j"),
        col("shared").cast(LongType).as("shared"), col("jaccard"))
      .dropDuplicates("i", "j")
    // expand verified SET pairs back to row pairs
    val gid = members.join(
        nb(sh.select(col("sh"), col("doc_id").as("gid"))), Seq("sh"))
      .select(col("doc_id"), col("gid"), col("n"))
    val cross = setPairs
      .join(gid.select(col("gid").as("i"), col("doc_id").as("ia")), "i")
      .join(gid.select(col("gid").as("j"), col("doc_id").as("ib")), "j")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"),
        col("shared"), col("jaccard"))
    // identical non-empty sets are jaccard 1.0 by identity (empty sets
    // stay excluded, exactly as they never form prefix candidates)
    val within = gid.as("x").join(gid.as("y"),
      col("x.gid") === col("y.gid") &&
        col("x.doc_id") < col("y.doc_id") && col("x.n") > 0)
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        col("x.n").cast(LongType).as("shared"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }
}
