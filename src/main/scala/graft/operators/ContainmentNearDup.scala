package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Directional set-CONTAINMENT self-join: all ordered pairs (i, j) with
  * C(i→j) = |Sᵢ ∩ Sⱼ| / |Sᵢ| ≥ t — the subset-duplicate detector.
  * Jaccard (symmetric) misses the quote/boilerplate-wrapper case a
  * training corpus is full of: a short document wholly embedded in a
  * long one has containment 1.0 but Jaccard |A|/|B| → 0, so no
  * symmetric threshold finds it. The prefix-filter bound survives the
  * asymmetry one-sided: under ANY global token order, C(i→j) ≥ t
  * implies the first |Sᵢ| − ⌈t·|Sᵢ|⌉ + 1 tokens of the CONTAINED side
  * intersect Sⱼ (missing all of them leaves at most ⌈t·|Sᵢ|⌉ − 1
  * shared), so candidate generation equi-joins i's rare prefix against
  * j's FULL token list — never all-pairs, and never a length filter
  * (any giant document may contain a small one; that asymmetric
  * freedom is the point). On top of the prefix bound, a PPJoin+-style
  * POSITIONAL filter (Xiao et al. 2008, applied one-sided) prunes each
  * candidate occurrence whose token positions already cap the overlap
  * below ⌈t·|Sᵢ|⌉ — losslessness argument at the filter site.
  *
  * Scale shape mirrors [[JaccardNearDup]], whose unique-set step
  * ([[JaccardNearDup.uniqueSets]]) it shares: mass duplicates verify
  * once per SET pair, members recovered after, over ScratchCache'd
  * shingle tables; exact verification via the native
  * sorted-merge intersect count, and one arm per size regime
  * ([[pairs]]' `large` flag, keyed to corpus size by [[pairsAuto]]):
  * the tokens' own order below [[JaccardNearDup.largeCorpusMinDocs]],
  * the df-ascending rare-token order + sort-merge hints at or above
  * it. The container-side token list is corpus-sized by necessity —
  * containment cannot prefix-restrict the side being searched — which
  * is the same table d2's verify stage already materializes.
  *
  * @param toks (id, tokens) — tokens must be SORTED distinct longs
  *             (hash tokens first; see DedupOps.shingled)
  * @return (i, j, shared, containment): i ≠ j, C(i→j) ≥ t; both
  *         directions reported when both hold
  */
object ContainmentNearDup {

  /** [[pairs]] with the arm auto-selected from corpus size (same
    * switch point as the Jaccard twin).
    *
    * The large arm orders DF-ASCENDING, where Jaccard's demotes the
    * hot head, for a structural reason: Jaccard's candidate join is
    * prefix × prefix, so any hot-free order bounds both sides, while
    * containment joins the contained prefix against the container
    * side's FULL token lists — candidate volume is
    * Σ_prefix-tokens df(tok), LINEARLY df-sensitive, and only the
    * df-ascending prefix minimizes it. Measured, the two orders tie:
    * d12 at sf10 read 24.5 s df vs 23.6 s hot-demoted in one window,
    * arms interleaved (BASELINE §sf10 r14; the earlier 20.2 vs 26.0 s
    * came from two different host windows), so the structural argument
    * decides (BASELINE §r28).
    */
  def pairsAuto(toks: DataFrame, idCol: String, toksCol: String,
      t: Double, nDocs: Long): DataFrame =
    pairs(toks, idCol, toksCol, t,
      large = nDocs >= JaccardNearDup.largeCorpusMinDocs)

  /** `large = true` orders each set df-ascending and puts sort-merge
    * hints on every corpus-derived join side (the Jaccard twin's
    * broadcast-guard reason); result-identical either way.
    */
  def pairs(toks: DataFrame, idCol: String, toksCol: String,
      t: Double, large: Boolean = false): DataFrame = {
    require(t > 0.0 && t <= 1.0, s"containment threshold in (0,1], got $t")
    def nb(df: DataFrame): DataFrame = JaccardNearDup.nb(df, large)
    // unique shingle sets; row pairs recovered at the end
    val (sets, gid) = JaccardNearDup.uniqueSets(toks, idCol, toksCol, large)
    val prefLen = (col("n") - ceil(col("n") * t) + 1).cast("int")

    // both sides carry each token's 1-based POSITION under a shared
    // global token order (hash order, (df, tok) when large) — it feeds
    // the PPJoin-style positional filter below. The df-ordered build
    // is SHARED by both sides, so the container side reuses the one
    // tok⋈df window pass instead of re-exploding (the per-doc window
    // ranks a doc's own tokens — bounded by set size, never a corpus
    // funnel).
    val posTok = ScratchCache.scratch(
      if (!large)
        sets.select(col("doc_id"), col("n"),
          posexplode(col("sh")).as(Seq("pos0", "tok")))
          .select(col("doc_id"), col("n"), col("tok"),
            (col("pos0") + 1).as("pos"))
      else {
        val tok = sets.select(col("doc_id"), col("n"),
          explode(col("sh")).as("tok"))
        val df = tok.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("tok"))
        tok.join(nb(df), "tok")
          .withColumn("pos", row_number().over(w))
          .select("doc_id", "n", "tok", "pos")
      })
    // rare-token prefix for the contained side (bound holds under any
    // global order; df asc keeps candidate buckets smallest)
    val aPrefix = posTok.filter(col("pos") <= prefLen)
    // container side: FULL token lists (no prefix, no length filter —
    // any giant document may contain a small one)
    val bTok = posTok.select(col("doc_id").as("j"), col("n").as("nb"),
      col("tok"), col("pos").as("posb"))

    // POSITIONAL filter (PPJoin+'s bound, one-sided): a shared token at
    // positions (pos, posb) caps the overlap at 1 + min(n − pos,
    // nb − posb) — everything else shareable sits in BOTH suffixes.
    // Lossless for the pair set: take a qualifying pair's FIRST shared
    // token under the global order — it lies inside the contained
    // side's prefix (some prefix token is shared, and the first shared
    // token orders at or before it) and ALL |A∩B| shared tokens sit at
    // or after it in both sorted lists, so that occurrence's cap is
    // ≥ |A∩B| ≥ ⌈t·n⌉ and the occurrence survives. Kills candidates
    // BEFORE the verify join fetches full token arrays — the d12
    // container-side growth §sf10 measured (10.7×) was exactly these
    // doomed pairs riding into the intersect stage.
    val cand = aPrefix.as("a").join(nb(bTok).as("b"),
      col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.j"))
      .filter(lit(1) +
        least(col("a.n") - col("a.pos"), col("nb") - col("posb")) >=
        ceil(col("a.n") * t))
      .select(col("a.doc_id").as("i"), col("b.j").as("j"))
    val setPairs = cand
      .join(nb(sets.select(col("doc_id").as("i"), col("sh").as("sha"),
        col("n").as("na"))), "i")
      .join(nb(sets.select(col("doc_id").as("j"), col("sh").as("shb"))), "j")
      .withColumn("shared", org.apache.spark.sql.GraftBridge.column(
        graft.functions.SortedLongIntersectCount(
          org.apache.spark.sql.GraftBridge.expression(col("sha")),
          org.apache.spark.sql.GraftBridge.expression(col("shb")))))
      .withColumn("containment",
        col("shared").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= t)
      .select(col("i"), col("j"),
        col("shared").cast(LongType).as("shared"), col("containment"))
      .dropDuplicates("i", "j")

    // expand SET pairs to ordered ROW pairs, keeping direction (members
    // of group i are the contained docs); identical-set groups of m ≥ 2
    // members additionally contribute all m·(m−1) ordered pairs at
    // containment exactly 1.0
    val cross = setPairs
      .join(gid.select(col("gid").as("i"), col("doc_id").as("ia")), "i")
      .join(gid.select(col("gid").as("j"), col("doc_id").as("ib")), "j")
      .select(col("ia").as("i"), col("ib").as("j"),
        col("shared"), col("containment"))
    // identical NON-EMPTY sets are containment 1.0 by identity; empty
    // sets stay excluded — containment |A∩B|/|A| is 0/0-undefined for
    // an empty A, the oracle's shared-token join never surfaces them,
    // and the Jaccard twin carries the same guard
    val within = gid.as("x").join(nb(gid.as("y")),
      col("x.gid") === col("y.gid") &&
        col("x.doc_id") =!= col("y.doc_id") && col("x.n") > 0)
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        col("x.n").cast(LongType).as("shared"),
        lit(1.0).as("containment"))
    cross.unionByName(within)
  }
}
