package graft.queries

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.multimodal.{AudioCodec, BinaryPipeline, ImageCodec}
import graft.multimodal.BinaryPipeline.MediaAsset

/** Driver-oracled multimodal queries (SURVEY §2 MM3).
  *
  * No media testdata ships with the driver, so the asset corpus is
  * synthesized deterministically on the executors: [[nAssets]] base
  * assets with REAL payloads (PNG images, PCM-WAV tones, MJPEG-AVI
  * video — [[BinaryPipeline.syntheticAssets]]) plus, for every
  * [[recodeEvery]]-th asset, a SAME-CONTENT re-encoding under a new
  * asset id — PNG→BMP (lossless, identical pixels), WAV→AU (identical
  * samples, different container), a byte-identical AVI copy — and for
  * every second re-encoded image a one-block visual perturbation
  * (exactly one aHash cell flips, so it sits at hamming 1 from its
  * source). A perceptual hash that honors content rather than bytes
  * must collide each re-encoding with its source at distance 0 and the
  * perturbations within a few bits; byte-level dedup sees none of them.
  *
  * Verification is the d4 pattern (DedupOps.scala d4): the phash table
  * is materialized via [[graft.sources.VerifyTap]], Spark owns decode +
  * hashing BELOW the tap, and DuckDB re-runs the pairing ABOVE it as a
  * brute-force all-pairs hamming join — checking the two-level
  * pigeonhole blocking of [[graft.operators.HammingNearDup]] against
  * its quadratic twin on identical inputs.
  */
object MultimodalOps extends QueryGroup {

  private val nAssets = 240
  private val recodeEvery = 5
  private[graft] val mmMaxHam = 3

  /** Base corpus + cross-container re-encodings (assetId = base + n)
    * + one-block visual perturbations (assetId = base + 2n).
    */
  private[queries] def assetsWithRecodes(
      s: SparkSession): Dataset[MediaAsset] =
    withRecodes(s, BinaryPipeline.syntheticAssets(s, nAssets), nAssets)

  /** SCALE-AXIS corpus: `factor × nAssets` base assets (melodic audio —
    * the steady-tone generator's ~16-cell hash space would make audio
    * pairs quadratic in the factor, see BinaryPipeline.syntheticAssets)
    * with the same designed recode/perturbation structure, which grows
    * LINEARLY with the factor (every 5th asset gets a re-encoded twin,
    * every 10th image a hamming-1 perturbation) — the media equivalent
    * of ScaleUp's replica-perturbed documents. The mm3/mm4 scaling rows
    * over it are in BASELINE §media-scale.
    */
  private[graft] def scaleAssets(s: SparkSession,
      factor: Int): Dataset[MediaAsset] =
    withRecodes(s,
      BinaryPipeline.syntheticAssets(s, nAssets * factor,
        melodicAudio = true),
      nAssets * factor)

  private def withRecodes(s: SparkSession, base: Dataset[MediaAsset],
      nAssets: Int): Dataset[MediaAsset] = {
    import s.implicits._
    val recoded = base.filter(_.assetId % recodeEvery == 0).map { a =>
      val bytes = a.kind match {
        case "image" => ImageCodec.encode(ImageCodec.read(a.data), "bmp")
        case "audio" => AudioCodec.transcode(a.data, "au")
        case _ => a.data // AVI copy: same container bytes, new identity
      }
      val codec = a.kind match {
        case "image" => "bmp"
        case "audio" => "pcm_s16be_au"
        case _ => a.codec
      }
      a.copy(assetId = a.assetId + nAssets, codec = codec, data = bytes)
    }
    val perturbed = base
      .filter(a => a.kind == "image" && a.assetId % (2 * recodeEvery) == 0)
      .map { a =>
        // flip the top-left 8×8 block: the synthetic patterns are pure
        // black/white, so the aHash mean moves by at most 255/64 ≈ 4 —
        // far less than the ≥ ~100 margin of every other cell — and
        // EXACTLY one hash bit flips (spec-asserted)
        val img = ImageCodec.read(a.data)
        val (bw, bh) = (img.getWidth / 8, img.getHeight / 8)
        var y = 0
        while (y < bh) {
          var x = 0
          while (x < bw) {
            img.setRGB(x, y, img.getRGB(x, y) ^ 0xffffff)
            x += 1
          }
          y += 1
        }
        a.copy(assetId = a.assetId + 2 * nAssets,
          data = ImageCodec.encode(img, "png"))
      }
    base.unionByName(recoded).unionByName(perturbed)
  }

  // --------------------------------------------------------------- MM3
  // Perceptual-hash media dedup: decode → 64-bit phash (real aHash for
  // images / first video frame, threshold hash over real loudness/ZCR
  // for audio) → HammingNearDup blocking → exact verify. The tap holds
  // one (assetId, phash) row per asset — bounded, tiny — and the corpus
  // synthesis + hashing stays entirely below it, so the oracle needs no
  // codecs. Scale shape above the tap is d4's: explode × blocks, one
  // equi-join shuffle, nothing all-pairs.
  private val mm3 = QueryDef(
    "mm3_phash_dedup",
    (s, dir) => {
      val sig = graft.sources.VerifyTap(
        BinaryPipeline.phashes(assetsWithRecodes(s)).toDF(), "mm3_phash")
      graft.operators.HammingNearDup
        .pairs(sig, "assetId", "phash", mmMaxHam)
        .orderBy("i", "j")
    },
    Some(s"""WITH sigs AS (
       |  SELECT assetId, phash
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/mm3_phash/*.parquet')
       |)
       |SELECT a.assetId AS i, b.assetId AS j,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM sigs a JOIN sigs b ON a.assetId < b.assetId
       |WHERE bit_count(xor(a.phash, b.phash)) <= $mmMaxHam
       |ORDER BY i, j""".stripMargin))

  // --------------------------------------------------------------- MM4
  // Media near-dup CLUSTERS: mm3's pairs fed through ConnectedComponents
  // (the d6 machinery — a driver-side union-find below its edge-count
  // gate, large-star/small-star label propagation above it), so a re-encode
  // chain (base ↔ BMP twin ↔ perturbation) lands in ONE cluster with a
  // canonical min-id label — the keep-one-per-cluster step of media
  // dedup. The phash table rides its own tap; DuckDB re-derives the
  // pairs by brute force AND the components via a recursive min-label
  // CTE (the d6 oracle pattern), so the clustering itself is verified
  // cross-engine, not just the pairing.
  private val mm4 = QueryDef(
    "mm4_phash_clusters",
    (s, dir) => {
      val sig = graft.sources.VerifyTap(
        BinaryPipeline.phashes(assetsWithRecodes(s)).toDF(), "mm4_phash")
      val pairs = graft.operators.HammingNearDup
        .pairs(sig, "assetId", "phash", mmMaxHam)
      graft.operators.ConnectedComponents.run(
          sig.select(col("assetId").as("id")),
          pairs.select(col("i").as("src"), col("j").as("dst")))
        .select(col("id").as("assetId"), col("component").as("cluster"))
        .orderBy("assetId")
    },
    Some(s"""WITH RECURSIVE sigs AS (
       |  SELECT assetId, phash
       |  FROM read_parquet('${graft.sources.VerifyTap.root}/mm4_phash/*.parquet')
       |), good AS (
       |  SELECT a.assetId AS i, b.assetId AS j
       |  FROM sigs a JOIN sigs b ON a.assetId < b.assetId
       |  WHERE bit_count(xor(a.phash, b.phash)) <= $mmMaxHam
       |), edges AS (
       |  SELECT i AS a, j AS b FROM good UNION ALL SELECT j, i FROM good
       |), reach AS (
       |  SELECT assetId AS node, assetId AS lab FROM sigs
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
       |)
       |SELECT node AS assetId, MIN(lab) AS cluster
       |FROM reach GROUP BY node ORDER BY assetId""".stripMargin))

  def queries: Seq[QueryDef] = Seq(mm3, mm4)
}
