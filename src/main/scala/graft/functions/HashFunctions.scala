package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text hashing/sketching primitives for dedup, built from native
  * expressions (`xxhash64`, HOFs) — codegen'd, shuffle-free per row.
  *
  * Algorithms follow the published constructions: MinHash (Broder, "On
  * the resemblance and containment of documents", 1997), SimHash
  * (Charikar, "Similarity estimation techniques from rounding
  * algorithms", STOC 2002; Manku/Jain/Sarma, "Detecting near-duplicates
  * for web crawling", WWW 2007), LSH banding (Leskovec/Rajaraman/Ullman,
  * "Mining of Massive Datasets" ch. 3).
  */
object HashFunctions {

  /** Per-row MinHash signature over an array of hashed long shingle
    * keys: slot i is min over keys h of `xxhash64(i, h)`, bit-identical
    * to the aggregate signature `DedupOps.minhashSigs` builds. For
    * frames that cannot aggregate (a stream); map-side, no shuffle.
    */
  def minhashSignature(keys: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(keys, h => xxhash64(lit(i), h)))
    }: _*)

  /** LSH band keys: hash each band of `rows` consecutive signature slots.
    * Equal band key ⇒ candidate pair. Returns array[bands] of longs.
    */
  def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      val slots = (0 until rows).map(r => element_at(sig, b * rows + r + 1))
      xxhash64((lit(b) +: slots): _*)
    }: _*)

  /** Hamming distance between two packed-64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")
}
