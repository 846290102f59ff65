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

  private def offenders(pattern: String, owner: String): Seq[String] = {
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.nonEmpty shouldBe true
    files.filterNot(f => main.relativize(f).toString.startsWith(owner))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(pattern) => s"$f:${i + 1}: $line"
        }
      }
  }

  test("every parquet read goes through graft.sources.Parquet") {
    // a bare read runs Spark's schema-inference job on every build
    offenders(".read.parquet(", "graft/sources/Parquet.scala") shouldBe empty
  }

  test("LedgerState is used only inside graft.state") {
    // ledgers are SegmentLedgers; the crash protocol under them is
    // not called around them
    offenders("LedgerState.", "graft/state/") shouldBe empty
  }
}
