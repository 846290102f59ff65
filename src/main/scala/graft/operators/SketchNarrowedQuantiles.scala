package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT per-group quantiles without sorting the corpus — the 100 TB
  * refinement of the "range-partition and rank everything" plan.
  *
  * A full `GlobalOrder` rank is exact but pays a corpus-wide range
  * shuffle + sort just to read off three rows per group (measured 8.7×
  * on 10× data at BASELINE §sf10 — the sort IS the job). The classical
  * two-phase alternative (Greenwald–Khanna sketch → narrowed exact
  * selection) replaces it with three SCANS, none of which shuffles
  * anything wider than a few rows per group:
  *
  *   1. one partial-agg scan builds a GK sketch + exact count per
  *      group; probing the sketch at q ± margin yields a VALUE BAND
  *      [lo, hi] that provably contains the value at the exact target
  *      rank ⌈q·n⌉ (the sketch's rank error is ≤ n/accuracy, the probes
  *      sit `bandMargin`/accuracy ranks out — any true quantile outside
  *      the band would contradict the sketch's error bound);
  *   2. one partial-agg scan counts, exactly, the rows strictly below
  *      each band's lo (the band's global-rank offset);
  *   3. the band rows alone — ~2·bandMargin/accuracy of the corpus,
  *      0.16% at the defaults — flow into [[GlobalOrder]]'s grouped
  *      rank, and the row at within-band rank ⌈q·n⌉ − below is the
  *      exact quantile, because band membership is a value interval, so
  *      band rows occupy CONTIGUOUS global ranks starting at below + 1.
  *
  * The bands frame is group-grain (few, huge groups — the regime this
  * operator targets; many-small-groups quantiles belong to a plain
  * grouped aggregate) and broadcasts back onto the scans, so nothing
  * corpus-sized ever moves: scans 1–2 shuffle a few rows per group,
  * scan 3 range-shuffles only the band slice. Results are bit-exact
  * passthrough values — the sketch only narrows, never answers. If a
  * band somehow missed its target rank the final projection raises via
  * `assert_true` rather than returning a wrong or missing quantile;
  * the containment proof makes that unreachable, the guard makes the
  * claim falsifiable in production.
  *
  * The bands frame is PINNED (`localCheckpoint`) before anything
  * consumes it. This is a correctness requirement, not a cache hint:
  * GK summary merge is shuffle-fetch-order dependent, and the final
  * plan and [[GlobalOrder]]'s rank job (severed at its offsets job) are
  * separate executions — unpinned, each could see a DIFFERENT [lo, hi]
  * per band, so `below` would be counted against one boundary while
  * band membership is tagged against another, and the target row would
  * sit at global rank below₂ + (t − below₁) ≠ t: a silently wrong
  * "exact" quantile invisible to the missing-rank guard. Pinning the
  * group-grain sketch output (a few rows) makes every consumer read
  * identical bands and removes the repeated GK corpus scans.
  *
  * NULLs in `vCol` are dropped up front, and `n` counts only non-null
  * rows — matching `percentile_disc`/DuckDB `quantile_disc` semantics.
  * Without the filter the target ranks ⌈q·n⌉ would be computed over an
  * n larger than the ranked population (the sketch, the `v < lo`
  * below-count, and band tagging all ignore NULLs).
  */
object SketchNarrowedQuantiles {

  /** Probe distance from the target quantile, in units of the sketch's
    * worst-case rank error (1/accuracy): 4× covers the GK bound plus
    * the ⌈⌉ and percentage→rank rounding wobbles with room to spare,
    * while still keeping the band ≤ 8/accuracy of the corpus.
    */
  val bandMargin: Int = 4

  /** Exact (num/den)-quantiles of `vCol` per `groupCol`, quantile
    * ranks at ⌈num·n/den⌉ (the percentile_disc convention), selected
    * by sketch-narrowed exact ranking — see the object doc.
    *
    * @param quantiles  (name, numerator) pairs; each quantile is
    *                   numerator/den of the way through the group
    * @param den        common denominator of the quantile fractions
    * @param tiebreak   columns completing a TOTAL order after `vCol`
    *                   ([[GlobalOrder]]'s rank-identity contract; the
    *                   selected values are tie-invariant either way)
    * @return one row per group: (groupCol, n_rows, <name per quantile>)
    */
  def perGroup(df: DataFrame, groupCol: String, vCol: String,
      quantiles: Seq[(String, Int)], den: Int, tiebreak: Seq[Column],
      accuracy: Int = 5000): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall { case (_, k) =>
      k > 0 && k < den }, s"quantile numerators must sit in (0, $den)")
    val g = col(groupCol)
    val v = col(vCol)
    // NULL contract (object doc): rank over the non-null population
    // only, so ⌈k·n/den⌉ targets the population the scans actually see
    val base = df.filter(v.isNotNull)

    // -- scan 1: GK sketch + exact n per group → value bands ---------
    // plus the 1-based exact target ranks ⌈k·n/den⌉ in pure LONG
    // arithmetic (`div` is integral division — Column./ would go
    // through double): k·n + den − 1 floored by den = ceiling division.
    // localCheckpoint PINS the sketch output (object doc: GK merge is
    // fetch-order dependent; the rank job and the final plan are
    // separate executions and must see the SAME [lo, hi] per band)
    val bands = bandsOf(base, groupCol, vCol, quantiles, den, accuracy)
      .select(col("*") +: quantiles.map { case (name, k) =>
        expr(s"(n * $k + ${den - 1}) div $den").as(s"t_$name")
      }: _*)
      .localCheckpoint()
    val joined = base.join(broadcast(bands), groupCol)

    // -- scan 2: exact global-rank offset of each band ---------------
    // rows strictly below lo_i sit at global ranks 1..below_i, so the
    // band's first row holds global rank below_i + 1
    val belowCols = quantiles.zipWithIndex.map { case ((name, _), i) =>
      sum(when(v < col("b")(2 * i), 1L).otherwise(0L))
        .as(s"below_$name")
    }
    val below = joined.groupBy(g).agg(belowCols.head, belowCols.tail: _*)

    // -- scan 3: exact rank INSIDE the bands only ---------------------
    val bandRows = tagBandRows(joined, groupCol, vCol,
      quantiles.size, tiebreak)
    val ranked = GlobalOrder.withGroupedRank(
      bandRows, Seq(groupCol, "qk"), v +: tiebreak, "rk", "band_n")

    // within-band rank of the target = ⌈k·n/den⌉ − below; pick it per
    // (group, band) and fold the bands back to one row per group
    val targets = quantiles.map { case (name, _) => s"t_$name" }
    val hits = ranked
      .join(broadcast(below), groupCol)
      .join(broadcast(bands.select(g +: col("n") +:
        targets.map(col): _*)), groupCol)
      .filter(quantiles.zipWithIndex.map { case ((name, _), i) =>
        col("qk") === i &&
          col("rk") === col(s"t_$name") - col(s"below_$name")
      }.reduce(_ || _))
    val picked = hits.groupBy(g).agg(
      max(col("n")).as("n_rows"),
      quantiles.zipWithIndex.map { case ((name, _), i) =>
        max(when(col("qk") === i, v)).as(name)
      }: _*)
    // loud-failure guard: every group must come back with every
    // quantile selected (the band-containment proof says it will; a
    // violation means the sketch contract broke, and silence would
    // ship a wrong or missing answer). The left join from the bands'
    // group list also catches a group whose EVERY band missed.
    // both sides are group-grain; the checkpointed bands side has no
    // stats, so the broadcast must be explicit
    bands.select(g).join(broadcast(picked), Seq(groupCol), "left")
      .filter(assert_true(
        (col("n_rows") +: quantiles.map { case (name, _) => col(name) })
          .map(_.isNotNull).reduce(_ && _),
        lit("sketch-narrowed quantile band missed its target rank")
      ).isNull)
  }

  /** Scan-1 bands: per group, the exact count `n` and the probe-value
    * array `b` = [lo_0, hi_0, lo_1, hi_1, ...] — one GK sketch probe
    * pair per quantile, `bandMargin`/accuracy ranks either side.
    */
  private def bandsOf(df: DataFrame, groupCol: String, vCol: String,
      quantiles: Seq[(String, Int)], den: Int,
      accuracy: Int): DataFrame = {
    val eps = bandMargin.toDouble / accuracy
    val probes = quantiles.flatMap { case (_, k) =>
      val q = k.toDouble / den
      Seq(math.max(0.0, q - eps), math.min(1.0, q + eps))
    }
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      percentile_approx(col(vCol), array(probes.map(lit): _*),
        lit(accuracy)).as("b"))
  }

  /** The band slice: rows of the bands-joined frame that fall inside
    * at least one band, one row per (row, band) membership — a row can
    * sit in several overlapping bands, so membership explodes a tag
    * array (bounded by the band fractions, not the corpus).
    */
  private def tagBandRows(joined: DataFrame, groupCol: String,
      vCol: String, nQuantiles: Int, tiebreak: Seq[Column]): DataFrame = {
    val v = col(vCol)
    val tags = array((0 until nQuantiles).map { i =>
      when(v >= col("b")(2 * i) && v <= col("b")(2 * i + 1), lit(i))
    }: _*)
    joined.select(col(groupCol) +: v +: tiebreak :+
      explode(filter(tags, t => t.isNotNull)).as("qk"): _*)
  }

  /** Test hook: the UNPINNED scan-1 plan (GK sketch + count partial
    * agg) — the localCheckpoint in [[perGroup]] makes this invisible
    * in the final plan, so the plan gate inspects it here.
    */
  private[graft] def bandsPlanForTest(df: DataFrame, groupCol: String,
      vCol: String, quantiles: Seq[(String, Int)], den: Int,
      accuracy: Int = 5000): DataFrame =
    bandsOf(df.filter(col(vCol).isNotNull), groupCol, vCol, quantiles,
      den, accuracy)

  /** Test hook: the band slice alone (row-per-band-membership), for
    * asserting the sketch actually narrows — see StatsSamplingSpec.
    */
  private[graft] def bandSliceForTest(df: DataFrame, groupCol: String,
      vCol: String, quantiles: Seq[(String, Int)], den: Int,
      accuracy: Int = 5000): DataFrame = {
    val base = df.filter(col(vCol).isNotNull)
    val bands = bandsOf(base, groupCol, vCol, quantiles, den, accuracy)
      .localCheckpoint()
    tagBandRows(base.join(broadcast(bands), groupCol), groupCol, vCol,
      quantiles.size, Nil)
  }
}
