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
    Seq("full", "slice", "ab", "prof", "plans", "ledger", "recall")
      .foreach(m => e.getMessage should include(m))
  }

  test("a bad ledger or recall command line fails in mode, before any " +
      "session starts") {
    Seq(Seq("ledger", "bogus"), Seq("ledger", "segments"),
        Seq("ledger", "segments", "x"), Seq("ledger", "s8", "a", "b", "c"),
        Seq("recall", "ledger", "1", "2", "3"), Seq("recall", "bogus"))
      .foreach { args =>
        withClue(args.mkString(" ")) {
          an[IllegalArgumentException] should be thrownBy
            Bench.mode(args, TestSpark.sfDir)
        }
      }
  }

  /** The stdout of running `args` as a Bench mode on the test session. */
  private def run(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Bench.mode(args, TestSpark.sfDir)(spark))
    out.toString("UTF-8").linesIterator.toSeq
  }

  /** Every rep line and the min/median line of each of `rows`. */
  private def shouldTime(lines: Seq[String], rows: Seq[String]): Unit =
    rows.foreach { row =>
      (1 to 3).foreach(i => exactly(1, lines) should
        fullyMatch regex s"\\[ledger\\] $row rep=$i \\d+\\.\\d\\d")
      exactly(1, lines) should startWith(s"[ledger] $row min=")
    }

  /** No persistent RDD is left, and no writer-lock, staging or backup
    * sibling of a ledger under the mode's ledger root `dir`.
    */
  private def clean(dir: String): Unit = {
    def walk(f: java.io.File): Seq[String] =
      f.getName +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(new java.io.File(dir)).filter(n => Seq("__writer_lock",
      "__compact_staging", "__compact_backup").exists(n.endsWith)) shouldBe empty
    spark.sparkContext.getPersistentRDDs shouldBe empty
  }

  test("ledger segments times the build and count of each segment count") {
    val lines = run("ledger", "segments", "1", "3")
    shouldTime(lines, for (n <- Seq(1, 3); t <- Seq("read", "tombs");
      m <- Seq("build", "count")) yield s"segments ${t}_${m}_$n")
    lines should contain("[ledger] segments read_build_jobs_3 0")
    clean(BenchScenarios.root("segments"))
  }

  test("ledger bandTakedown times each row at both scales") {
    val lines = run("ledger", "bandTakedown", TestSpark.sfDir, TestSpark.sfDir)
    shouldTime(lines, for (t <- Seq("1x", "10x"); r <- Seq(
        s"band_probe_${t}_pre", s"band_takedown_$t", s"band_probe_${t}_post"))
      yield s"bandTakedown $r")
    clean(BenchScenarios.root("bandTakedown"))
  }

  test("recall filtered prints one recall line per selectivity and boost") {
    val lines = run("recall", "filtered")
    lines.count(_.startsWith("[recall] filtered selectivity=")) shouldBe 20
    clean(BenchScenarios.root("recall"))
  }
}
