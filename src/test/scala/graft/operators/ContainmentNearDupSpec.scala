package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class ContainmentNearDupSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  test("pairsAuto keys the ordering to corpus size") {
    // below the threshold: the tokens' own order, no extra shuffle; at
    // or above: the df-ascending order (a per-doc Window over the
    // token⋈df join) plus the merge hints
    import spark.implicits._
    val df = Seq(1L -> Seq(1L, 2L, 3L), 2L -> Seq(1L, 2L, 4L))
      .toDF("id", "toks")
      .select(col("id"), array_sort(col("toks")).as("toks"))
    val small = ContainmentNearDup.pairsAuto(df, "id", "toks", 0.8,
        nDocs = 2)
      .queryExecution.executedPlan.toString
    small should not include "Window"
    small should not include "SortMergeJoin"
    val large = ContainmentNearDup.pairsAuto(df, "id", "toks", 0.8,
      nDocs = JaccardNearDup.largeCorpusMinDocs)
      .queryExecution.executedPlan.toString
    large should include("Window")
    large should include("SortMergeJoin")
  }
}
