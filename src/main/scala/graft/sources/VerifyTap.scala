package graft.sources

import org.apache.spark.sql.DataFrame

/** Verification tap: materializes a SMALL intermediate (signatures,
  * candidate ids) to a fixed local path and returns a frame reading it
  * back, so the downstream Spark plan and the driver's DuckDB oracle
  * consume the IDENTICAL rows.
  *
  * This is how stages DuckDB cannot reproduce (Spark `xxhash64`
  * sketches, LSH bucketing) become oracle-checkable: Spark owns the
  * hashing BELOW the tap; the oracle re-runs the exact logic ABOVE the
  * tap (all-pairs hamming, cosine re-rank, top-k) from the materialized
  * rows. The tap carries ids + the few columns the re-rank needs — a
  * bounded per-candidate payload, one coalesced file, overwritten per
  * run; at production scale the tap line is simply removed (it is a
  * verification harness, not part of the operator's algorithm).
  */
object VerifyTap {
  /** Fixed aux root the oracle SQL references via read_parquet(). */
  val root = "/tmp/graft_aux"

  /** @param coalesce single-file output for small taps; pass false for
    *                  larger taps (candidate sets) so the write stays
    *                  parallel — the oracle's glob reads either layout
    */
  def apply(df: DataFrame, name: String,
      coalesce: Boolean = true): DataFrame = {
    val path = s"$root/$name"
    (if (coalesce) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(path)
    Parquet.read(df.sparkSession, path)
  }
}
