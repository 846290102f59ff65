package graft.state

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The writer lock's stale-holder reclaim, on the local file system. */
class LedgerLockSpec extends AnyFunSuite with Matchers {

  test("dead-holder reclaims on several ledgers under one root leave " +
      "exactly one reclaim mutex file") {
    val root = Files.createTempDirectory("graft_lock_spec")
    try {
      val fs = FileSystem.getLocal(new Configuration())
      val dead = {
        val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid()
      }
      val ledgers = (0 until 3).map(i => root.resolve(s"ledger_$i").toString)
      for (path <- ledgers) {
        Files.write(Paths.get(LedgerState.lockPath(path).toString),
          s"$dead@${LedgerState.localHost}".getBytes("UTF-8"))
        LedgerState.withWriter(fs, path, "spec") { 1 } shouldBe 1
        Files.exists(Paths.get(LedgerState.lockPath(path).toString)) shouldBe
          false
      }
      Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .count(_.contains("reclaim_mutex")) shouldBe 1
    } finally {
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists)
    }
  }
}
