package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.multimodal.BinaryPipeline

class MultimodalOpsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val n = 240 // MultimodalOps.nAssets

  private lazy val pairs = {
    val q = MultimodalOps.queries.find(_.name == "mm3_phash_dedup").get
    q.build(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("mm3: every cross-container re-encoding collides at hamming 0") {
    // BMP re-encode (identical pixels), AU re-container (identical
    // samples), AVI byte copy — perceptual hashing must see through all
    val recodedIds = (0L until n by 5L)
    recodedIds.foreach { id =>
      withClue(s"base $id vs recode ${id + n}: ") {
        pairs.get((id, id + n)) shouldBe Some(0L)
      }
    }
  }

  test("mm3: one-block image perturbation sits at hamming exactly 1") {
    // perturbed variants exist for image ids ≡ 0 (mod 10); images are
    // ids ≡ 0 (mod 3) → ids ≡ 0 (mod 30)
    val perturbedIds = (0L until n by 30L)
    perturbedIds should not be empty
    perturbedIds.foreach { id =>
      withClue(s"base $id vs perturbed ${id + 2 * n}: ") {
        pairs.get((id, id + 2L * n)) shouldBe Some(1L)
      }
      withClue(s"recode ${id + n} vs perturbed ${id + 2 * n}: ") {
        pairs.get((id + n, id + 2L * n)) shouldBe Some(1L)
      }
    }
  }

  test("mm4: every re-encode chain collapses into one min-id cluster") {
    val q = MultimodalOps.queries.find(_.name == "mm4_phash_clusters").get
    val cluster = q.build(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // base, cross-container recode (+n) and perturbation (+2n) share a
    // cluster labeled by the min member id (= the base id)
    (0L until n by 5L).foreach { id =>
      withClue(s"chain of $id: ") {
        cluster(id + n) shouldBe cluster(id)
        if (id % 30 == 0) cluster(id + 2L * n) shouldBe cluster(id)
        cluster(id) should be <= id
      }
    }
    // clusters are canonical: every label is itself a member's id with
    // that same label (min-id representative)
    cluster.values.toSet.foreach { lab: Long => cluster(lab) shouldBe lab }
  }

  test("mm3: blocked pairing matches brute force exactly") {
    // the oracle's all-pairs twin, run in-process: HammingNearDup must
    // return the complete ≤ maxHam set, nothing more
    val sigs = BinaryPipeline.phashes(MultimodalOps.assetsWithRecodes(spark))
      .collect().map(h => h.assetId -> h.phash)
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb)
      if d <= MultimodalOps.mmMaxHam
    } yield (ia, ib) -> d.toLong).toMap
    pairs shouldBe brute
  }

  test("scale corpus: near-dup pairs grow linearly with the factor") {
    // the media scale axis (BASELINE §media-scale) is only evidence if the
    // corpus' pair structure is linear by construction: melodic audio
    // keeps spurious hash collisions negligible (the steady-tone
    // corpus's ~16-cell audio hash space holds 376 collision pairs at
    // factor 1 and would grow QUADRATICALLY), leaving the designed
    // recode/perturbation pairs, which scale with the asset count
    def nPairs(f: Int): Long = graft.operators.HammingNearDup
      .pairs(BinaryPipeline.phashes(
          MultimodalOps.scaleAssets(spark, f)).toDF(),
        "assetId", "phash", MultimodalOps.mmMaxHam)
      .count()
    val p1 = nPairs(1)
    val p2 = nPairs(2)
    // designed pairs at factor 1: 48 recode twins + image perturbation
    // chains; spurious melodic collisions must stay a small minority
    p1 should be >= 48L
    p1 should be <= 200L
    val ratio = p2.toDouble / p1
    withClue(f"pairs $p1 -> $p2 (ratio $ratio%.2f): ") {
      ratio should be >= 1.5
      ratio should be <= 2.5
    }
  }
}
