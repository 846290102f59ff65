package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions.hamming64

/** Near-duplicate pairs over 64-bit signatures (SimHash, pHash, any
  * locality-preserving sketch) by TWO-LEVEL pigeonhole blocking
  * (HmSearch-style): the signature is split into ⌊maxHam/2⌋+1 blocks,
  * so any pair within hamming `maxHam` has at least one block with AT
  * MOST ONE differing bit (maxHam errors over nBlocks > maxHam/2
  * blocks ⇒ min block ≤ 1). Candidates are an equi-join on (block
  * index, block value) where the probe side also emits every
  * single-bit flip of each block value (the radius-1 ball, width+1
  * keys) — a pair differing by ≤1 bit in a block always collides.
  * Exact hamming verification then filters false positives, so the
  * result is exact.
  *
  * Why not one block per allowed error (the single-level pigeonhole):
  * maxHam+1 blocks are 64/(maxHam+1) bits wide, and candidate volume
  * grows as nBlocks · n²/2^width — at maxHam = 7 that is n²/32, a
  * quadratic blowup measured at 39M candidate pairs for n = 50 000
  * (22 s; invisible at small n). Halving the block count DOUBLES the
  * width: ⌊maxHam/2⌋+1 blocks of ~2·64/maxHam bits make candidates
  * n²·nBlocks·(width+1)/2^width — the width+1 ball factor is linear
  * while the 2^width denominator is exponential, a ~26× candidate
  * reduction at maxHam = 7 (measured 39M → 1.5M at n = 50 000).
  *
  * Scale shape: one explode (×nBlocks·(width+2) rows total across both
  * sides) + one shuffle on the block key; candidate volume is bounded
  * by bucket collisions. A hot block key (a low-entropy corpus puts d
  * unique signatures on one (block, v) — boilerplate/template pages
  * identical in 3 of 4 blocks) is OUTPUT-compute skew: its d² candidate
  * evaluations land on the single task owning the key, while its
  * shuffle INPUT is d tiny rows — so AQE's bytes-based skew split never
  * fires (measured identical with it on/off, BASELINE §skew), and
  * dropping the key would break the pigeonhole guarantee (a pair whose
  * only ≤1-error block is the dropped one is lost). A probe-side salt
  * on detected hot keys measured 2.4–2.6× on a planted boilerplate
  * corpus (d = 60k of n = 150k) but no stable separation on d4's
  * natural corpus, so no arm salts (BASELINE §skew, §r28).
  * [[pairs]] (64-bit) backs MM3's binary pHash; d4's text simhash runs
  * the 128-bit [[pairsWide]] (measured fastest at every corpus size —
  * BASELINE §skew), with [[pairsWideNarrowBlocked]] as d14's oracled
  * comparison arm.
  */
object HammingNearDup {

  /** Candidate generation runs over UNIQUE signature values, not rows:
    * a dedup corpus is dup-heavy by definition, and a mass-duplicate
    * group of m rows sharing one signature would otherwise put m
    * copies of every block key through the join — quadratic in the
    * group size INSIDE the join, before any verification. Collapsing
    * to distinct signatures first bounds every intermediate by the
    * unique-signature count; row pairs are recovered afterwards by
    * joining members back per matched signature pair (plus the
    * trivial hamming-0 pairs within each identical-signature group).
    * The OUTPUT is still all row pairs — inherently quadratic in a
    * dup group's size — but it streams out of a join, never through a
    * collected/exploded intermediate.
    *
    * @param sigs   frame with one row per item
    * @param idCol  unique numeric/string id column name
    * @param sigCol 64-bit signature column name (long)
    * @param maxHam maximum hamming distance (inclusive)
    * @return (i, j, hamming) with i < j, hamming ≤ maxHam
    */
  def pairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHam: Int): DataFrame = {
    require(maxHam >= 0 && maxHam < 64, s"maxHam must be in [0,64), got $maxHam")
    val nBlocks = maxHam / 2 + 1
    val width = (64 + nBlocks - 1) / nBlocks
    // ≤ 1 by construction; 0 only when maxHam == 0 (exact-match join)
    val ballRadius = maxHam / nBlocks
    val members = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val uniq = members.select(col("sig")).distinct()
    val blockVals = array((0 until nBlocks).map { b =>
      // last block may be narrower; mask with the remaining width
      val w = math.min(width, 64 - b * width)
      shiftrightunsigned(col("sig"), b * width)
        .bitwiseAND(lit(if (w >= 64) -1L else (1L << w) - 1))
    }: _*)
    val plain = uniq.select(col("sig"), posexplode(blockVals))
      .toDF("sig", "block", "v")
    // radius-1 ball: the value itself plus each single-bit flip. Flips
    // beyond a narrower last block's width produce keys outside its
    // masked domain — they can never match and are only dead rows.
    val probe =
      if (ballRadius == 0) plain
      else plain.select(col("sig"), col("block"),
        explode(array(col("v") +: (0 until width).map(bit =>
          col("v").bitwiseXOR(lit(1L << bit))): _*)).as("v"))
    // distinct signature pairs within the hamming budget (sa < sb is a
    // valid canonical order on VALUES — ids come back below)
    val sigPairs = probe.as("a").join(plain.as("b"),
      col("a.block") === col("b.block") && col("a.v") === col("b.v") &&
        col("a.sig") < col("b.sig"))
      .select(col("a.sig").as("sa"), col("b.sig").as("sb"))
      .withColumn("hamming", hamming64(col("sa"), col("sb")))
      .filter(col("hamming") <= maxHam)
      .dropDuplicates("sa", "sb")
    // expand to row pairs: cross-group (every member of sa × every
    // member of sb, ordered per pair) + within-group hamming-0 pairs
    val cross = sigPairs
      .join(members.select(col("sig").as("sa"), col("id").as("ia")), "sa")
      .join(members.select(col("sig").as("sb"), col("id").as("ib")), "sb")
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("hamming"))
    val within = members.as("x").join(members.as("y"),
      col("x.sig") === col("y.sig") && col("x.id") < col("y.id"))
      .select(col("x.id").as("i"), col("y.id").as("j"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** [[pairs]] over 128-bit signatures carried as two longs — the WIDE
    * arm that keeps hamming near-dup LINEAR past the 64-bit scheme's
    * candidate floor. Candidates are Θ(n²·nBlocks·(width+1)/2^width)
    * and the 64-bit signature caps width at 64/(⌊maxHam/2⌋+1) — 16
    * bits at maxHam = 7, a 2¹⁶ key space that any ≥10⁶-doc corpus
    * outgrows quadratically (BASELINE §sf10's d4 row is that shape
    * emerging). Doubling the SIGNATURE doubles the block width at the
    * same threshold: maxHam = 7 over 128 bits gives 4 blocks of 32 —
    * a 2³² key space, linear to ~10⁹ docs. The detector is
    * deliberately TIGHTER per bit (7/128 vs 7/64) — the production
    * trade (cf. Manku et al. 2007: 3/64 at 8·10⁹ pages): true
    * duplicates sit at hamming ~0 at any width, while the wider
    * signature sheds the borderline noise a generous 64-bit threshold
    * admits. Same two-level radius-1 ball blocking, same exact
    * verification, same unique-signature dup-group armor.
    *
    * @param hiCol high 64 bits (bits 64–127); `loCol` bits 0–63
    * @return (i, j, hamming) with i < j, hamming ≤ maxHam over all 128
    */
  def pairsWide(sigs: DataFrame, idCol: String, hiCol: String,
      loCol: String, maxHam: Int): DataFrame =
    pairsWideImpl(sigs, idCol, hiCol, loCol, maxHam, blockSpan = 128)

  /** [[pairsWide]]'s NARROW-BLOCKED comparison arm: same 128-bit
    * hamming semantics and exact verification, but pigeonhole blocks
    * are cut from the LOW 64 bits only. Losslessness is one
    * inequality: hamming₁₂₈(a,b) ≤ maxHam ⇒ hamming₆₄(lo_a,lo_b) ≤
    * maxHam (the lo half's differing bits are a subset of all
    * differing bits), so the 64-bit pigeonhole over lo already
    * surfaces every qualifying pair — spec-proven equal to the
    * wide-blocked arm AND to brute force.
    *
    * NOT the shipping arm at any corpus size. The r13 hypothesis was a
    * size-keyed switch (16-bit keys mean HALF the probe explode — 4×17
    * vs 4×33 ball keys per row — cheaper while bucket collisions are
    * rare), but the head-to-head on real signatures falsified it: real
    * simhash bits are vote-correlated, so a 2¹⁶ key space is collision
    * -dense even at 5k docs (arms tie, 1.4 s both) and the candidate
    * volume grows as n²·nBlocks·(width+1)/2^w past it (500k docs:
    * 13.3 s vs wide's 9.1 s; full 6-point table in BASELINE §skew).
    * Kept as the measured reference arm (BASELINE §skew) and the
    * d14 oracle twin that holds both candidate generators under the
    * driver hash gate.
    */
  def pairsWideNarrowBlocked(sigs: DataFrame, idCol: String,
      hiCol: String, loCol: String, maxHam: Int): DataFrame =
    pairsWideImpl(sigs, idCol, hiCol, loCol, maxHam, blockSpan = 64)

  private def pairsWideImpl(sigs: DataFrame, idCol: String, hiCol: String,
      loCol: String, maxHam: Int, blockSpan: Int): DataFrame = {
    require(maxHam >= 0 && maxHam < 128,
      s"maxHam must be in [0,128), got $maxHam")
    require(blockSpan == 64 || blockSpan == 128,
      s"blockSpan must be 64 or 128, got $blockSpan")
    // narrow blocking pigeonholes within lo, which is only valid while
    // maxHam errors over ALL 128 bits still bound the lo half's errors
    require(blockSpan == 128 || maxHam < 64,
      s"narrow blocking needs maxHam < 64, got $maxHam")
    // floor of 2 blocks so maxHam ≤ 3 stays expressible (width 64 = the
    // plain hi/lo split; pigeonhole still holds: ≤ maxHam errors over
    // nBlocks blocks leave the min block with ≤ ⌊maxHam/nBlocks⌋ ≤ 1)
    val nBlocks = math.max(2, maxHam / 2 + 1)
    val width = (blockSpan + nBlocks - 1) / nBlocks
    require(width <= 64, s"maxHam $maxHam gives width $width > 64")
    val ballRadius = maxHam / nBlocks
    val members = sigs.select(col(idCol).as("id"),
      col(hiCol).as("hi"), col(loCol).as("lo"))
    val uniq = members.select(col("hi"), col("lo")).distinct()
    def mask(w: Int) = lit(if (w >= 64) -1L else (1L << w) - 1)
    // block b covers bits [b·width, b·width + w) of the lo‖hi
    // concatenation (of lo alone when blockSpan = 64); a block
    // straddling the 64-bit seam combines a lo suffix with a shifted
    // hi prefix
    val blockVals = array((0 until nBlocks).map { b =>
      val start = b * width
      val w = math.min(width, blockSpan - start)
      if (start >= 64)
        shiftrightunsigned(col("hi"), start - 64).bitwiseAND(mask(w))
      else if (start + w <= 64)
        shiftrightunsigned(col("lo"), start).bitwiseAND(mask(w))
      else {
        val loBits = 64 - start
        shiftrightunsigned(col("lo"), start)
          .bitwiseOR(shiftleft(
            col("hi").bitwiseAND(mask(start + w - 64)), loBits))
      }
    }: _*)
    val plain = uniq.select(col("hi"), col("lo"), posexplode(blockVals))
      .toDF("hi", "lo", "block", "v")
    val probe =
      if (ballRadius == 0) plain
      else plain.select(col("hi"), col("lo"), col("block"),
        explode(array(col("v") +: (0 until width).map(bit =>
          col("v").bitwiseXOR(lit(1L << bit))): _*)).as("v"))
    val ham = hamming64(col("ha"), col("hb")) +
      hamming64(col("la"), col("lb"))
    val sigPairs = probe.as("a").join(plain.as("b"),
      col("a.block") === col("b.block") && col("a.v") === col("b.v") &&
        (col("a.hi") < col("b.hi") ||
          (col("a.hi") === col("b.hi") && col("a.lo") < col("b.lo"))))
      .select(col("a.hi").as("ha"), col("a.lo").as("la"),
        col("b.hi").as("hb"), col("b.lo").as("lb"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHam)
      .dropDuplicates("ha", "la", "hb", "lb")
    val cross = sigPairs
      .join(members.select(col("hi").as("ha"), col("lo").as("la"),
        col("id").as("ia")), Seq("ha", "la"))
      .join(members.select(col("hi").as("hb"), col("lo").as("lb"),
        col("id").as("ib")), Seq("hb", "lb"))
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("hamming"))
    val within = members.as("x").join(members.as("y"),
      col("x.hi") === col("y.hi") && col("x.lo") === col("y.lo") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("i"), col("y.id").as("j"),
        lit(0L).as("hamming"))
    cross.unionByName(within)
  }
}
