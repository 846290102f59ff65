package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one timing harness: its clear step, its plans mode and its
  * command-line contract.
  */
class BenchHarnessSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  test("clear drops ScratchCache pins and every persistent RDD") {
    operators.ScratchCache.scratch(spark.range(100).toDF("n")).count()
    spark.range(50).toDF("n").localCheckpoint().count()
    operators.ScratchCache.outstanding should be > 0
    spark.sparkContext.getPersistentRDDs should not be empty
    Bench.clear(spark)
    operators.ScratchCache.outstanding shouldBe 0
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("plans mode writes each query's full formatted explain") {
    val out = Files.createTempDirectory("graft_plans").toString
    Bench.mode(Seq("plans", out, "t", "q1_agg"), TestSpark.sfDir)(spark)
    Files.readString(Paths.get(out, "q1_agg_t.txt")) should
      include("== Physical Plan ==")
  }

  test("prof names every job: a stage job with no description prints " +
      "its SQL execution's call site") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Bench.mode(Seq("prof", "q1_agg"), TestSpark.sfDir)(spark)
    }
    val jobs = out.toString("UTF-8").linesIterator
      .filter(_.startsWith("[prof] job")).toSeq
    jobs should not be empty
    jobs.foreach(_ should not include "withThreadLocalCaptured")
  }

  test("an unknown mode fails with a usage message naming every mode") {
    val e = the[IllegalArgumentException] thrownBy
      Bench.mode(Seq("bogus"), TestSpark.sfDir)
    Seq("full", "slice", "ab", "prof", "plans")
      .foreach(m => e.getMessage should include(m))
  }
}
