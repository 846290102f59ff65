package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class HammingNearDupSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def pairsOf(sigs: Seq[(Long, Long)], maxHam: Int) = {
    import spark.implicits._
    HammingNearDup.pairs(sigs.toDF("id", "sig"), "id", "sig", maxHam)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("finds exactly the pairs within the hamming budget") {
    val sigs = Seq(
      1L -> 0x0000000000000000L,
      2L -> 0x0000000000000007L, // ham 3 from id 1
      3L -> 0x00000000000000FFL, // ham 8 from id 1, ham 5 from id 2
      4L -> 0xFFFFFFFFFFFFFFFFL) // far from everything
    pairsOf(sigs, 3) shouldBe Set((1L, 2L, 3L))
    pairsOf(sigs, 5) shouldBe Set((1L, 2L, 3L), (2L, 3L, 5L))
    pairsOf(sigs, 0) shouldBe Set.empty
  }

  test("blocking is lossless vs brute force on random signatures") {
    val rnd = new scala.util.Random(42)
    val sigs = (1L to 200L).map { i =>
      // clustered signatures: low ids share a base pattern with few flips
      val base = if (i % 4 == 0) 0x1234567890ABCDEFL else rnd.nextLong()
      i -> (base ^ (1L << rnd.nextInt(64)))
    }
    val brute = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 4
    } yield (i, j, h.toLong)).toSet
    pairsOf(sigs, 4) shouldBe brute
  }

  test("identical signatures pair at hamming 0 for any budget") {
    val sigs = Seq(1L -> 42L, 2L -> 42L, 3L -> -1L)
    pairsOf(sigs, 0) shouldBe Set((1L, 2L, 0L))
  }

  test("wide pairs: narrow-blocked and wide-blocked arms are both " +
      "lossless vs 128-bit brute force across thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(1913)
    val sigs = (1L to 250L).map { i =>
      // clusters around two base patterns with 0–3 bit flips spread
      // across BOTH halves (exercises lo-only blocking's losslessness
      // when some differing bits live in hi), plus background noise
      val (bh, bl) = i % 5 match {
        case 0 | 1 => (0x1234567890ABCDEFL, 0x0F0F0F0F0F0F0F0FL)
        case 2     => (0x5555555555555555L, 0xAAAAAAAAAAAAAAAAL)
        case _     => (rnd.nextLong(), rnd.nextLong())
      }
      val flips = rnd.nextInt(4)
      var (h, l) = (bh, bl)
      (0 until flips).foreach { _ =>
        val b = rnd.nextInt(128)
        if (b >= 64) h ^= 1L << (b - 64) else l ^= 1L << b
      }
      (i, h, l)
    }
    val df = sigs.toDF("id", "hi", "lo")
    for (maxHam <- Seq(0, 3, 7)) {
      val brute = (for {
        (i, hi, li) <- sigs; (j, hj, lj) <- sigs if i < j
        d = java.lang.Long.bitCount(hi ^ hj) + java.lang.Long.bitCount(li ^ lj)
        if d <= maxHam
      } yield (i, j, d.toLong)).toSet
      def got(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"maxHam=$maxHam: ") {
        got(HammingNearDup
          .pairsWideNarrowBlocked(df, "id", "hi", "lo", maxHam)) shouldBe brute
        got(HammingNearDup
          .pairsWide(df, "id", "hi", "lo", maxHam)) shouldBe brute
      }
    }
  }

  test("hot blocks are lossless: planted low-entropy corpus, wide and " +
      "narrow-blocked pairs == brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(4177)
    // 60 hot sigs: constant in 3 of 4 pigeonhole blocks (hi and lo's
    // high half), random lo low-32 — three hot (block, v) keys of d=60,
    // the boilerplate-corpus shape BASELINE §skew measures. Plus
    // 90 uniform background sigs.
    val sigs = (1L to 150L).map { i =>
      if (i <= 60L)
        (i, 0x5A5A5A5A5A5A5A5AL,
          0x3C3C3C3C00000000L | (rnd.nextInt() & 0xFFFFFFFFL))
      else (i, rnd.nextLong(), rnd.nextLong())
    }
    val df = sigs.toDF("id", "hi", "lo")
    val brute = (for {
      (i, hi, li) <- sigs; (j, hj, lj) <- sigs if i < j
      d = java.lang.Long.bitCount(hi ^ hj) + java.lang.Long.bitCount(li ^ lj)
      if d <= 7
    } yield (i, j, d.toLong)).toSet
    brute should not be empty // the planted group must produce pairs
    def got(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got(HammingNearDup.pairsWide(df, "id", "hi", "lo", 7)) shouldBe brute
    got(HammingNearDup
      .pairsWideNarrowBlocked(df, "id", "hi", "lo", 7)) shouldBe brute
  }

  test("narrow blocking rejects thresholds the lo-half pigeonhole " +
      "cannot guarantee") {
    import spark.implicits._
    val df = Seq((1L, 0L, 0L)).toDF("id", "hi", "lo")
    an[IllegalArgumentException] should be thrownBy
      HammingNearDup.pairsWideNarrowBlocked(df, "id", "hi", "lo", 64)
  }

  test("mass-duplicate groups: lossless vs brute force, dup-heavy corpus") {
    // the shape a dedup corpus actually has: most rows sit in large
    // identical-signature groups (candidate generation must run over
    // UNIQUE signatures or the block join goes quadratic in group size)
    val rnd = new scala.util.Random(7)
    val sigs = (1L to 300L).map { i =>
      val base = i % 5 match {
        case 0 => 0x00F0L                      // 60-member identical group
        case 1 => 0x00F1L                      // ham 1 from the group above
        case 2 => 0x0FF0L                      // ham 4
        case _ => rnd.nextLong()               // background noise
      }
      i -> base
    }
    val brute = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 3
    } yield (i, j, h.toLong)).toSet
    pairsOf(sigs, 3) shouldBe brute
  }
}
