package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source-level invariants of `src/main/scala`, checked by scanning the
  * files: each names one module that owns a protocol, and a line
  * outside it that bypasses the module fails with its file and number.
  */
class SourceInvariantSpec extends AnyFunSuite with Matchers {

  private val main = Paths.get("src/main/scala")

  private def scalaFiles: Seq[Path] = {
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.nonEmpty shouldBe true
    files
  }

  private def offenders(pattern: String, owner: String): Seq[String] =
    scalaFiles.filterNot(f => main.relativize(f).toString.startsWith(owner))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"$f:${i + 1}: $line"
        }
      }

  /** The files under `src/main/scala` whose source contains `pattern`. */
  private def sites(pattern: String): Seq[Path] =
    scalaFiles.filter(f => Files.readString(f).contains(pattern))

  test("every parquet read goes through graft.sources.Parquet") {
    // a bare read runs Spark's schema-inference job on every build
    offenders(".read.parquet(", "graft/sources/Parquet.scala") shouldBe empty
  }

  test("the MinHash signature and the unique-set step each have one " +
      "definition") {
    // d3 and d13 sign through DedupOps.minhashSigs; d2, d3 and d12
    // take their unique sets from JaccardNearDup.uniqueSets. A second
    // copy would drift from the one its specs check.
    for (construct <- Seq("min(xxhash64(lit(", "groupBy(\"sh\", \"n\")")) {
      val in = sites(construct)
      withClue(s"$construct in $in: ") { in.size should be <= 1 }
    }
  }

  test("LedgerState is used only inside graft.state") {
    // ledgers are SegmentLedgers; the crash protocol under them is
    // not called around them
    offenders("LedgerState.", "graft/state/") shouldBe empty
  }
}
