package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class JaccardNearDupSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def toks(rows: (Long, Seq[Long])*) = {
    import spark.implicits._
    rows.toSeq.toDF("id", "toks")
      .select(col("id"), array_sort(col("toks")).as("toks"))
  }

  test("exact pairs at the threshold boundary") {
    val df = toks(
      1L -> Seq(1L, 2L, 3L, 4L, 5L),
      2L -> Seq(1L, 2L, 3L, 4L, 6L), // J = 4/6 = 0.667
      3L -> Seq(1L, 2L, 3L, 4L, 5L), // J = 1.0 with id 1
      4L -> Seq(7L, 8L, 9L))
    val out = JaccardNearDup.pairs(df, "id", "toks", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((1L, 3L))
    val loose = JaccardNearDup.pairs(df, "id", "toks", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    loose shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
  }

  test("df-ordered prefix returns IDENTICAL pairs to token-ordered " +
    "on the real corpus") {
    val sh = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        array_sort(transform(
          graft.functions.HashFunctions.shingles(split(col("text"), " "), 3),
          t => xxhash64(t))).as("sh"))
    def collectPairs(dfOrdered: Boolean) =
      JaccardNearDup.pairs(sh, "doc_id", "sh", 0.8, dfOrdered)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = collectPairs(dfOrdered = false)
    val byDf = collectPairs(dfOrdered = true)
    byDf shouldBe plain
    plain should not be empty
    // r14 third arm: hot-demoted ordering (hot set empty at this
    // corpus' dfs — the pass-through path must still be identical)
    val byHot = JaccardNearDup.pairs(sh, "doc_id", "sh", 0.8,
        hotDemoted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    byHot shouldBe plain
  }

  test("hot-demoted prefix: identical to brute force on an adversarial " +
      "hot-token corpus (demotion engaged), and the demotion " +
      "expression reorders exactly") {
    val rnd = new scala.util.Random(13)
    // every doc shares tokens {5, 6} (df = 160 ≥ hotDfMin → both go
    // hot); every even doc gets a near-identical twin (J ≥ 0.8), so
    // the pair set is non-trivial and every pair's similarity RIDES
    // partly on the demoted tokens
    val base = (1L to 80L).map { id =>
      id -> (Seq(5L, 6L) ++
        Seq.fill(10)(rnd.nextInt(5000).toLong + 100L)).distinct
    }
    val corpus = base ++ base.map { case (id, ts) =>
      (id + 1000L) -> (ts :+ 99999L) // one extra token: J = n/(n+1) ≥ .8
    }
    val brute = (for {
      (i, si0) <- corpus; (j, sj0) <- corpus if i < j
      si = si0.toSet; sj = sj0.toSet
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.8
    } yield (i, j, inter.toLong)).toSet
    brute should not be empty
    val got = JaccardNearDup.pairs(toks(corpus: _*), "id", "toks", 0.8,
        hotDemoted = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe brute

    // DemoteHotTokens itself: stable partition, reference-checked
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val hot = Array(3L, 7L, 11L)
    val rows = Seq(
      Seq(1L, 3L, 5L, 7L, 9L, 11L),  // mixed
      Seq(3L, 7L),                    // all hot
      Seq(1L, 2L),                    // none hot
      Seq.empty[Long])
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = true)))))
    val out = df.select(column(graft.functions.DemoteHotTokens(
        expression(col("a")),
        new graft.functions.LongArrayParam(hot))).as("r"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val hotSet = hot.toSet
    out shouldBe rows.map(r =>
      r.filterNot(hotSet) ++ r.filter(hotSet))
    // a null element nulls the result (no defined order position)
    val ndf = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(Seq(1L, null))),
      df.schema)
    ndf.select(column(graft.functions.DemoteHotTokens(
        expression(col("a")),
        new graft.functions.LongArrayParam(hot))).as("r"))
      .collect()(0).isNullAt(0) shouldBe true
  }

  test("operator equals brute-force Jaccard on random corpora " +
    "(both orderings, several thresholds)") {
    val rnd = new scala.util.Random(7)
    // random small token sets over a small vocab → plenty of near-dups
    val corpus = (1L to 120L).map { id =>
      val size = 5 + rnd.nextInt(15)
      id -> Seq.fill(size)(rnd.nextInt(40).toLong + 1000L).distinct
    }
    val brute = (t: Double) => (for {
      (i, si) <- corpus; (j, sj) <- corpus if i < j
      inter = si.toSet.intersect(sj.toSet).size
      jac = inter.toDouble / (si.toSet.size + sj.toSet.size - inter)
      if jac >= t
    } yield (i, j, inter.toLong)).toSet
    val df = toks(corpus: _*)
    for (t <- Seq(0.5, 0.8); ord <- Seq(false, true)) {
      val got = JaccardNearDup.pairs(df, "id", "toks", t, ord)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"t=$t dfOrdered=$ord: ") { got shouldBe brute(t) }
    }
  }

  test("mass-duplicate sets: lossless vs brute force, dup-heavy corpus") {
    // the dedup-corpus shape: large groups of IDENTICAL shingle sets
    // (prefix keys + verification must run per distinct set, not per
    // row), plus near-dup and empty-set edge cases
    val rnd = new scala.util.Random(11)
    val rows = (1L to 120L).map { i =>
      i % 6 match {
        case 0 => i -> Seq(1L, 2L, 3L, 4L, 5L)       // 20-member group
        case 1 => i -> Seq(1L, 2L, 3L, 4L, 6L)       // J=2/3 vs group
        case 2 => i -> Seq.empty[Long]               // empty: never pairs
        case _ => i -> Seq.fill(6)(rnd.nextLong()).distinct
      }
    }
    val brute = (for {
      (i, si) <- rows; (j, sj) <- rows if i < j
      inter = si.toSet.intersect(sj.toSet).size
      union = si.toSet.union(sj.toSet).size
      if union > 0 && inter.toDouble / union >= 0.8
    } yield (i, j, inter.toLong, inter.toDouble / union)).toSet
    val out = JaccardNearDup.pairs(toks(rows: _*), "id", "toks", 0.8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    out shouldBe brute
  }

  test("Zipfian worst case (universal token): lossless, both orderings") {
    // BASELINE §skew's scenario at spec scale: every document carries token
    // Long.MinValue — first in every sorted array, so under the plain
    // order it sits in EVERY prefix (one giant candidate bucket), while
    // the df ordering pushes it out of all prefixes. Both must still
    // return exactly the brute-force truth.
    val rnd = new scala.util.Random(13)
    val rows = (1L to 150L).map { i =>
      val base = i % 5 match {
        case 0 => Seq(101L, 102L, 103L, 104L, 105L) // planted dup group
        case 1 => Seq(101L, 102L, 103L, 104L, 106L) // near miss (J=2/3)
        case _ => Seq.fill(8)(rnd.nextLong()).distinct
      }
      i -> (Seq(Long.MinValue) ++ base)
    }
    val brute = (for {
      (i, si) <- rows; (j, sj) <- rows if i < j
      inter = si.toSet.intersect(sj.toSet).size
      union = si.toSet.union(sj.toSet).size
      if inter.toDouble / union >= 0.8
    } yield (i, j, inter.toLong)).toSet
    brute should not be empty
    val df = toks(rows: _*)
    Seq(false, true).foreach { ord =>
      val got = JaccardNearDup.pairs(df, "id", "toks", 0.8, ord)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"dfOrdered=$ord: ") { got shouldBe brute }
    }
  }

  test("pairsAuto keys the ordering to corpus size") {
    // below the threshold: the zero-extra-shuffle token order; at or
    // above: the hot-demoted prefix (r14 — NO df window either: the
    // armor is a vocabulary agg + driver-collected hot set, so neither
    // arm may plan a Window; the merge hints are the visible switch)
    val df = toks(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L, 4L))
    val small = JaccardNearDup.pairsAuto(df, "id", "toks", 0.8, nDocs = 2)
      .queryExecution.executedPlan.toString
    small should not include "Window"
    small should not include "SortMergeJoin"
    val large = JaccardNearDup.pairsAuto(df, "id", "toks", 0.8,
      nDocs = JaccardNearDup.dfOrderMinDocs)
      .queryExecution.executedPlan.toString
    large should not include "Window"
    large should include("SortMergeJoin")
  }

  test("candidate join is an equi-join, never cartesian (both orderings)") {
    val df = toks(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L, 4L))
    Seq(false, true).foreach { ord =>
      val p = JaccardNearDup.pairs(df, "id", "toks", 0.8, ord)
        .queryExecution.executedPlan.toString
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
    }
  }
}
