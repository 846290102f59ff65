package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.TestSpark

/** d16 Bloom-guarded incremental dedup: exactness vs the plain
  * anti-join, the no-false-negative superset invariant the crash
  * ordering promises (bloom ⊇ ledger at every instant), the degraded
  * modes (missing filter → correct-but-slower, then self-healing), and
  * the plan shape (negatives bypass the join; one exact join total).
  */
class BloomDedupSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.sfDir

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
  }

  private def docs = graft.sources.Tables.load(spark, sfDir, "documents")
  private def batch = docs.filter(col("source") === "src1")
  private def prior = docs.filter(col("source") =!= "src1")
    .select(md5(col("text")).as("content_hash")).distinct()

  private def freshState(): String = {
    val path = DedupOps.d16LedgerPath(sfDir)
    rm(new java.io.File(path))
    path
  }

  private def runD16() =
    SparkEntry.queries("d16_bloom_dedup")(spark, sfDir)
      .collect().map(_.toSeq).toSeq

  test("d16 equals the plain ledger anti-join (exactness despite the " +
      "probabilistic prefilter), and replay is idempotent") {
    freshState()
    val guarded = runD16() // bootstraps filter + ledger
    val plain = DedupOps.incrementalDedup(batch, prior)
      .orderBy("content_hash").collect().map(_.toSeq).toSeq
    guarded shouldBe plain
    guarded.size should be > 0
    runD16() shouldBe guarded // warm path: merge + re-query
  }

  test("superset invariant: after any refresh chain, every ledgered " +
      "hash is bloom-positive (no false negatives vs the ledger)") {
    val path = freshState()
    runD16()
    runD16() // second refresh exercises the merge path
    val bloom = DedupOps.readBloom(spark, path)
    bloom shouldBe defined
    // the committed filter carries the designed geometry (merge
    // compatibility rides on every version sharing it)
    graft.functions.BloomMembership.bitSize(bloom.get) shouldBe
      graft.functions.BloomMembership.defaultNumBits
    val misses = DedupOps.readHashLedger(spark, path)
      .filter(!graft.functions.BloomMembership
        .mightContain(bloom.get, xxhash64(col("content_hash"))))
      .count()
    misses shouldBe 0L
  }

  test("the prefilter engages: bloom-negatives bypass the exact join " +
      "and the positive volume is fpp-bounded") {
    val path = freshState()
    runD16()
    val bloom = DedupOps.readBloom(spark, path).get
    val hashed = batch.withColumn("content_hash", md5(col("text")))
    val mc = graft.functions.BloomMembership
      .mightContain(bloom, xxhash64(col("content_hash")))
    val n = hashed.count()
    val nPos = hashed.filter(mc).count()
    val trueDups = hashed.join(
      DedupOps.readHashLedger(spark, path).select("content_hash"),
      Seq("content_hash"), "left_semi").count()
    nPos should be >= trueDups // no false negatives
    // ~2% design fpp, 10x slack: the join input is a small fraction
    // of the novel rows, which is the point of the operator
    (nPos - trueDups).toDouble should be <= (0.2 * (n - trueDups) + 1)
  }

  test("degraded mode: a deleted filter falls back to the full exact " +
      "join (correct), and the next refresh self-heals it") {
    val path = freshState()
    val expected = runD16()
    rm(new java.io.File(s"$path/_bloom"))
    DedupOps.readBloom(spark, path) shouldBe None
    // query path with no filter: plain anti-join, same answer
    DedupOps.bloomGuardedDedup(batch, DedupOps.readHashLedger(spark, path), None)
      .orderBy("content_hash").collect().map(_.toSeq).toSeq shouldBe expected
    // full run rebuilds the sidecar from the standing ledger
    runD16() shouldBe expected
    DedupOps.readBloom(spark, path) shouldBe defined
  }

  test("plan shape: negatives ride a join-free branch; exactly one " +
      "anti-join; ledger scan prefix-pruned; no positives ⇒ NO join") {
    val path = freshState()
    runD16()
    val bloom = DedupOps.readBloom(spark, path)
    // a batch with guaranteed positives (every prior doc is ledgered):
    // the exact join survives, once, on the candidate branch only
    val plan = DedupOps.bloomGuardedDedup(docs,
        DedupOps.readHashLedger(spark, path), bloom)
      .queryExecution.executedPlan.toString
    plan should include("bloom_guard")
    plan.split("LeftAnti").length shouldBe 2
    // the fast branch filters on NOT bloom_guard (no join above it)
    plan should include("NOT bloom_guard")
    // ledger read is partition-pruned by the batch's hash prefixes
    plan should include("pfx")
    // the plan string stays readable: the bitmap is held out-of-band,
    // never printed as a megabyte hex literal
    plan.length should be < 100000
    // the real src1 batch has NO ledgered hash (and effectively no FP
    // at this corpus size): the empty prefix set folds the anti-join
    // away entirely — the steady-state daily plan is join-FREE
    val hashed = batch.withColumn("content_hash", md5(col("text")))
    val nPos = hashed.filter(graft.functions.BloomMembership
      .mightContain(bloom.get, xxhash64(col("content_hash")))).count()
    val planBatch = DedupOps.bloomGuardedDedup(batch,
        DedupOps.readHashLedger(spark, path), bloom)
      .queryExecution.executedPlan.toString
    if (nPos == 0L) planBatch should not include "LeftAnti"
    else planBatch.split("LeftAnti").length shouldBe 2
  }

  test("refresh is single-writer: a held lock refuses (wedge, not " +
      "corrupt) and release restores service") {
    // two concurrent refreshes could each commit stored ∪ own-novel —
    // the committed filter would miss the loser's hashes (false
    // negatives = wrong answers), hence the exclusive-create lock
    val path = freshState()
    val lock = new java.io.File(graft.state.SegmentLedger.lockPath(path).toString)
    lock.getParentFile.mkdirs()
    lock.createNewFile() shouldBe true
    an[IllegalArgumentException] should be thrownBy runD16()
    lock.delete() shouldBe true
    runD16().size should be > 0
    lock.exists() shouldBe false // released after a successful run
  }

  test("an empty/garbled _CURRENT marker self-heals on the next " +
      "refresh instead of wedging (crash between truncate and close)") {
    val path = freshState()
    val expected = runD16()
    // simulate the legacy in-place-overwrite crash artifact: an empty
    // marker file (the current writer uses temp+rename and cannot
    // produce one, but a pre-fix state or manual truncation can)
    val marker = new java.io.File(s"$path/_bloom/_CURRENT")
    new java.io.FileOutputStream(marker).close()
    marker.length() shouldBe 0L
    // readBloom degrades safely (no committed version resolvable)
    DedupOps.readBloom(spark, path) shouldBe None
    // and the refresh self-heals: parses the garbage as version 0,
    // commits v1, service restored — never NumberFormatException
    noException should be thrownBy runD16()
    runD16() shouldBe expected
    DedupOps.readBloom(spark, path) shouldBe defined
  }

  test("null content_hash routes to the join branch and is KEPT — " +
      "guarded ≡ d9's plan on a null-bearing batch") {
    val path = freshState()
    runD16()
    val bloom = DedupOps.readBloom(spark, path)
    import spark.implicits._
    val withNull = batch.select("doc_id", "text").unionByName(
      Seq((-1L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val guarded = DedupOps.bloomGuardedDedup(withNull,
        DedupOps.readHashLedger(spark, path), bloom)
      .orderBy(col("content_hash").asc_nulls_first)
      .collect().map(_.toSeq).toSeq
    val plain = DedupOps.bloomGuardedDedup(withNull,
        DedupOps.readHashLedger(spark, path), None)
      .orderBy(col("content_hash").asc_nulls_first)
      .collect().map(_.toSeq).toSeq
    guarded shouldBe plain
    // the null-text row survives as its own (null-keyed) group
    guarded.count(r => r.head == null) shouldBe 1
  }

  test("ledger stays append-only in steady state (maintenance is " +
      "O(novel), not O(corpus))") {
    freshState()
    runD16() // bootstrap
    val dir = new java.io.File(DedupOps.d16LedgerPath(sfDir))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def snapshot() = walk(dir)
      .filter(_.getName.startsWith("part-"))
      .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
    val before = snapshot()
    before.size should be > 0
    runD16() // steady state: all hashes already ledgered
    snapshot() shouldBe before
  }
}
