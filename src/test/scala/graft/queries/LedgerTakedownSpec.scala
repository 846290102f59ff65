package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.state.SegmentLedger

/** Takedowns for the TEXT-side ledgers (r19): the d9/d16 content-hash
  * ledger and the d13 band index are append-only, so without a removal
  * path a taken-down document's hash stays ledgered forever and a
  * legitimate future re-submission of reclaimed content is silently
  * swallowed as a duplicate. These tests prove: post-takedown re-ingest
  * is NOVEL on all three ledgers, removals are prefix-pruned (d9/d16)
  * and idempotent, every crash point self-heals, d16's bloom ⊇ ledger
  * invariant survives ledger shrinkage (only fp creep, bounded by the
  * rebuild-on-compact rule), and a per-trigger-replanned stream (ST6
  * shape) picks up the shrunk ledger.
  */
class LedgerTakedownSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
  }

  private def tmpPath(tag: String) =
    s"/tmp/graft_state/graft_takedown_${tag}_${java.util.UUID
      .randomUUID().toString.take(8)}"

  private def hashesOf(texts: Seq[String]) = {
    import spark.implicits._
    texts.toDF("text").select(md5(col("text")).as("content_hash"))
  }

  private def batchOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("d9 hash ledger: removal is prefix-pruned, idempotent, and " +
      "makes re-submitted reclaimed content NOVEL again") {
    val path = tmpPath("d9")
    try {
      val keepTexts = (0 until 40).map(i => s"standing doc number $i")
      val deadTexts = (0 until 10).map(i => s"reclaimed doc number $i")
      DedupOps.refreshLedger(spark, path,
        hashesOf(keepTexts ++ deadTexts))
      val batch = batchOf(
        deadTexts.zipWithIndex.map { case (t, i) => (100L + i, t) } ++
          Seq((200L, keepTexts.head), (201L, "genuinely new doc")))
      // pre-takedown: reclaimed content is swallowed as duplicate
      val pre = DedupOps.incrementalDedup(batch,
        DedupOps.readHashLedger(spark, path)).collect()
      pre.map(_.getLong(1)).toSet shouldBe Set(201L)

      // a takedown is one tombstone segment: every hash data file
      // stays byte-identical
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def snapshot() = walk(new java.io.File(path))
        .filter(_.getName.startsWith("part-"))
        .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
      def dataFiles() = snapshot().filterNot(_._1.contains("/tombs/"))
      val before = dataFiles()
      DedupOps.removeFromHashLedger(spark, path, hashesOf(deadTexts))
      dataFiles() shouldBe before
      SegmentLedger.segments(spark, path, "tombs").size shouldBe 1

      // post-takedown: the same content re-evaluates as novel; the
      // standing hashes still dedup
      val post = DedupOps.incrementalDedup(batch,
        DedupOps.readHashLedger(spark, path)).collect()
      post.map(_.getLong(1)).toSet shouldBe
        (Set(201L) ++ (100L until 110L))
      // idempotent: removing the same hashes again writes nothing
      val s1 = snapshot()
      DedupOps.removeFromHashLedger(spark, path, hashesOf(deadTexts))
      snapshot() shouldBe s1
      // single-writer: a held lock refuses (wedge, not corrupt), and
      // once released the removal lands and reads back
      val total = DedupOps.readHashLedger(spark, path).count()
      val lock = new java.io.File(SegmentLedger.lockPath(path).toString)
      lock.createNewFile() shouldBe true
      an[IllegalArgumentException] should be thrownBy
        DedupOps.removeFromHashLedger(spark, path,
          hashesOf(Seq(keepTexts.last)))
      lock.delete() shouldBe true
      DedupOps.readHashLedger(spark, path).count() shouldBe total
      DedupOps.removeFromHashLedger(spark, path,
        hashesOf(Seq(keepTexts.last)))
      DedupOps.readHashLedger(spark, path).count() shouldBe total - 1
      // and a refresh re-ledgers the reclaimed content as novel
      DedupOps.refreshLedger(spark, path,
        hashesOf(deadTexts :+ keepTexts.last))
      DedupOps.incrementalDedup(batch, DedupOps.readHashLedger(spark, path))
        .collect().map(_.getLong(1)).toSet shouldBe Set(201L)
    } finally rm(new java.io.File(path))
  }

  test("hash ledger: refresh/takedown cycles resurrect with untomb " +
      "records — one physical row per content_hash, exact live reads") {
    val path = tmpPath("d9cycle")
    try {
      val keep = (0 until 20).map(i => s"cycle standing doc $i")
      val dead = (0 until 6).map(i => s"cycle reclaimed doc $i")
      val all = keep ++ dead
      def hashSet(texts: Seq[String]) = hashesOf(texts).collect()
        .map(_.getString(0)).toSet
      def physical() = SegmentLedger.read(spark, path, "hashes")
        .groupBy("content_hash").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      def check(live: Set[String]): Unit = {
        DedupOps.readHashLedger(spark, path).collect()
          .map(_.getString(0)).toSet shouldBe live
        physical().keySet shouldBe hashSet(all)
        physical().values.toSet shouldBe Set(1L)
      }
      for (cycle <- 0 until 3) withClue(s"cycle $cycle: ") {
        DedupOps.refreshLedger(spark, path, hashesOf(all))
        check(hashSet(all))
        if (cycle < 2) {
          DedupOps.removeFromHashLedger(spark, path, hashesOf(dead))
          check(hashSet(keep))
        }
      }
    } finally rm(new java.io.File(path))
  }

  test("d13 band ledger: takedown is a TOMBSTONE — O(takedown) bytes, " +
      "ledger files untouched; matching stops through readBandLedger; " +
      "re-ingest resurrects without duplicate rows; compaction purges") {
    val path = tmpPath("d13")
    try {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau kappa2"
      val base2 = "one two three four five six seven eight nine ten " +
        "eleven twelve thirteen fourteen fifteen sixteen seventeen"
      val ledgerDocs = batchOf(Seq(
        (1L, base), // the doc to take down (and later resurrect)
        (2L, base2), // taken down later and PURGED by compaction
        (3L, "completely different words nothing shared here at all " +
          "ten tokens")))
      DedupOps.refreshNearDupLedger(spark, path, ledgerDocs)
      // near-duplicates of docs 1 and 2 (one word changed each)
      val probe = graft.operators.ScratchCache.scratch(
        DedupOps.minhashIndex(batchOf(Seq(
          (10L, base.replace("kappa2", "omega")),
          (20L, base2.replace("seventeen", "eighteen"))))))
      def matches() = DedupOps
        .nearDupProbe(probe, DedupOps.readBandLedger(spark, path),
          DedupOps.jaccardT)
        .select("j").collect().map(_.getLong(0)).toSet
      matches() shouldBe Set(1L, 2L)

      // IO GATE (the r19 verdict's weak): a takedown appends one
      // tombstone-sized file — every ledger data file stays
      // byte-identical, O(takedown) not O(ledger)
      def dataFiles() = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(path))
          .filter(f => f.getName.startsWith("part-") &&
            !f.getPath.contains("/tombs/"))
          .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
      }
      val before = dataFiles()
      import spark.implicits._
      DedupOps.removeFromBandLedger(spark, path, Seq(1L).toDF("doc_id"))
      dataFiles() shouldBe before
      matches() shouldBe Set(2L)
      // physical rows linger (shadowed) until compaction
      def index() = SegmentLedger.read(spark, path, "index")
      index().filter(col("doc_id") === 1L).count() shouldBe 1L
      // idempotent + absent ids: zero new tombstone bytes
      def tombFiles() = new java.io.File(path, "tombs").listFiles()
        .flatMap(_.listFiles()).count(_.getName.startsWith("part-"))
      val tombFiles0 = tombFiles()
      DedupOps.removeFromBandLedger(spark, path,
        Seq(1L, 999L).toDF("doc_id"))
      tombFiles() shouldBe tombFiles0
      matches() shouldBe Set(2L)

      // RESURRECTION: re-ingesting doc 1 clears its tombstone — the
      // standing rows un-shadow, and no duplicate row is created
      DedupOps.refreshNearDupLedger(spark, path, ledgerDocs)
      matches() shouldBe Set(1L, 2L)
      index().filter(col("doc_id") === 1L).count() shouldBe 1L
      DedupOps.readBandTombstones(spark, path) shouldBe None

      // PURGE rides compaction: tombstone doc 2, compact — physical
      // rows gone, tombstones cleared, live matches preserved
      DedupOps.removeFromBandLedger(spark, path, Seq(2L).toDF("doc_id"))
      DedupOps.compactBandLedger(spark, path)
      index().filter(col("doc_id") === 2L).count() shouldBe 0L
      DedupOps.readBandTombstones(spark, path) shouldBe None
      matches() shouldBe Set(1L)
      // and doc 2 then re-ingests as genuinely novel (re-indexed)
      DedupOps.refreshNearDupLedger(spark, path, ledgerDocs)
      matches() shouldBe Set(1L, 2L)
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_backup"))
      rm(new java.io.File(path + "__compact_staging"))
      graft.operators.ScratchCache.releaseAll()
    }
  }

  test("d13 band ledger: writers share one lock (takedown/refresh/" +
      "compact refuse under a held lock)") {
    val path = tmpPath("d13race")
    try {
      import spark.implicits._
      val docs = batchOf(Seq(
        (1L, "lock case doc one with some shared words in the middle"),
        (2L, "another lock case doc with other words entirely here")))
      DedupOps.refreshNearDupLedger(spark, path, docs)
      DedupOps.removeFromBandLedger(spark, path, Seq(1L).toDF("doc_id"))
      // a held writer lock REFUSES every band-ledger mutator (the r19
      // double-swap/lost-append race is closed by serialization)
      val lock = new java.io.File(graft.state.SegmentLedger.lockPath(path).toString)
      lock.createNewFile() shouldBe true
      an[IllegalArgumentException] should be thrownBy
        DedupOps.removeFromBandLedger(spark, path, Seq(2L).toDF("doc_id"))
      an[IllegalArgumentException] should be thrownBy
        DedupOps.refreshNearDupLedger(spark, path, docs)
      an[IllegalArgumentException] should be thrownBy
        DedupOps.compactBandLedger(spark, path)
      lock.delete() shouldBe true
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_backup"))
    }
  }

  test("refreshLedger heals a torn COMPACTION swap instead of " +
      "re-bootstrapping over it (the backup is never orphaned then " +
      "destroyed)") {
    // r20 review (high): with the live dir renamed aside and the
    // promote never executed, refreshLedger's bootstrap branch would
    // re-create the ledger from today's prior alone — losing every
    // other standing hash — and the NEXT compaction entry would then
    // delete the backup holding the only real copy
    val path = tmpPath("refreshheal")
    try {
      val texts = (0 until 30).map(i => s"refresh heal doc $i")
      DedupOps.refreshLedger(spark, path, hashesOf(texts))
      val total = DedupOps.readHashLedger(spark, path).count()
      // simulate a compaction crash between its two renames
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + "__compact_backup"))
      // the daily refresh arrives with a SMALL prior — it must restore
      // the backup and append nothing, not bootstrap a 5-hash ledger
      DedupOps.refreshLedger(spark, path, hashesOf(texts.take(5)))
      DedupOps.readHashLedger(spark, path).count() shouldBe total
      new java.io.File(path + "__compact_backup").exists() shouldBe false
      // and a following compaction preserves everything
      DedupOps.compactLedger(spark, path)
      DedupOps.readHashLedger(spark, path).count() shouldBe total
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_backup"))
    }
  }

  test("refreshLedgerBloomed heals a torn COMPACTION swap on the " +
      "APPEND path: ledger preserved, filter flipped over the novel " +
      "hashes, superset invariant intact") {
    val path = tmpPath("bloomheal")
    try {
      val texts = (0 until 25).map(i => s"bloom heal doc $i")
      DedupOps.refreshLedgerBloomed(spark, path, hashesOf(texts))
      val total = DedupOps.readHashLedger(spark, path).count()
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + "__compact_backup"))
      // the next bloomed refresh carries NOVEL hashes: it must restore
      // the backup and take the append arm (filter flips BEFORE the
      // append — the d16 crash ordering), not re-bootstrap from prior
      DedupOps.refreshLedgerBloomed(spark, path,
        hashesOf(texts.take(3) ++ Seq("bloom heal novel doc")))
      DedupOps.readHashLedger(spark, path).count() shouldBe total + 1
      new java.io.File(path + "__compact_backup").exists() shouldBe false
      // superset invariant over the restored+grown ledger
      val bloom = DedupOps.readBloom(spark, path)
      bloom shouldBe defined
      DedupOps.readHashLedger(spark, path)
        .filter(!graft.functions.BloomMembership.mightContain(
          bloom.get, xxhash64(col("content_hash"))))
        .count() shouldBe 0L
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_backup"))
    }
  }

  test("d16: bloom superset invariant SURVIVES ledger shrinkage (the " +
      "removed hash pays the exact join and is correctly novel), and " +
      "compaction rebuilds the filter (fp-creep bound)") {
    val path = tmpPath("d16")
    try {
      val keepTexts = (0 until 40).map(i => s"bloomed standing doc $i")
      val deadTexts = (0 until 8).map(i => s"bloomed reclaimed doc $i")
      DedupOps.refreshLedgerBloomed(spark, path,
        hashesOf(keepTexts ++ deadTexts))
      val bloomBefore = DedupOps.readBloom(spark, path)
      bloomBefore shouldBe defined
      DedupOps.removeFromHashLedger(spark, path, hashesOf(deadTexts))
      // the filter is untouched — and still a superset of the SHRUNK
      // ledger (no false negative is possible under deletion)
      DedupOps.readBloom(spark, path).get.toSeq shouldBe
        bloomBefore.get.toSeq
      DedupOps.readHashLedger(spark, path)
        .filter(!graft.functions.BloomMembership.mightContain(
          bloomBefore.get, xxhash64(col("content_hash"))))
        .count() shouldBe 0L
      // re-submission of reclaimed content is NOVEL through the
      // guarded plan, identical to the exact (bloom-less) arm
      val batch = batchOf(
        deadTexts.zipWithIndex.map { case (t, i) => (300L + i, t) } ++
          Seq((400L, keepTexts.head)))
      val guarded = DedupOps.bloomGuardedDedup(batch,
          DedupOps.readHashLedger(spark, path), DedupOps.readBloom(spark, path))
        .orderBy("content_hash").collect().map(_.toSeq).toSeq
      val exact = DedupOps.bloomGuardedDedup(batch,
          DedupOps.readHashLedger(spark, path), None)
        .orderBy("content_hash").collect().map(_.toSeq).toSeq
      guarded shouldBe exact
      guarded.map(_(1).asInstanceOf[Long]).toSet shouldBe
        (300L until 308L).toSet
      // compaction bounds the fp creep: the filter is REBUILT from the
      // compacted (shrunk) rows — new version committed, invariant
      // intact, reads unchanged
      DedupOps.compactLedger(spark, path)
      val rebuilt = DedupOps.readBloom(spark, path)
      rebuilt shouldBe defined
      // genuinely rebuilt from the shrunk rows (the compaction swap
      // starts a fresh sidecar lineage): fewer set bits than the
      // pre-takedown filter, not the same bitmap carried over
      rebuilt.get.toSeq should not equal bloomBefore.get.toSeq
      DedupOps.readHashLedger(spark, path)
        .filter(!graft.functions.BloomMembership.mightContain(
          rebuilt.get, xxhash64(col("content_hash"))))
        .count() shouldBe 0L
      DedupOps.bloomGuardedDedup(batch, DedupOps.readHashLedger(spark, path),
          rebuilt)
        .orderBy("content_hash").collect().map(_.toSeq).toSeq shouldBe
        guarded
    } finally rm(new java.io.File(path))
  }

  test("ST18 takedown-LIVE dedup: a mid-stream takedown is honored by " +
      "the NEXT micro-batch with NO query restart (per-trigger ledger " +
      "re-read), while standing hashes still drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val path = tmpPath("st18")
    try {
      val texts = Seq("st18 standing doc", "st18 reclaimed doc")
      DedupOps.refreshLedger(spark, path, hashesOf(texts))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = graft.streaming.StreamOps.incrementalDedupLive(
        in.toDF.toDF("doc_id", "text", "ts"), path,
        textCol = "text", tsCol = "ts", watermarkDelay = "10 seconds") {
        (b, _) => b.select("doc_id").collect()
          .foreach(r => got.synchronized { got += r.getLong(0) })
      }.start()
      try {
        in.addData((1L, "st18 novel doc", ts(100)),
          (2L, "st18 standing doc", ts(101)))
        q.processAllAvailable()
        // pre-takedown: novel emitted, ledgered standing dropped
        got.toSet shouldBe Set(1L)
        // takedown lands WHILE the query runs — no restart follows.
        // (The reclaimed hash deliberately hasn't arrived in-stream
        // yet: a pre-takedown arrival would occupy the dedup state and
        // suppress re-arrivals until the watermark passes it — the
        // documented staleness bound, not the contract under test.)
        DedupOps.removeFromHashLedger(spark, path,
          hashesOf(Seq("st18 reclaimed doc")))
        in.addData((3L, "st18 reclaimed doc", ts(120)),
          (4L, "st18 standing doc", ts(121)))
        q.processAllAvailable()
        // the NEXT batch already honors the takedown: reclaimed is
        // novel; the standing hash still drops (doc 4 dies in the
        // in-stream state AND the ledger join — both agree)
        got.toSet shouldBe Set(1L, 3L)
      } finally q.stop()
    } finally rm(new java.io.File(path))
  }

  test("ST18 live path: the per-trigger ledger read is PREFIX-PRUNED " +
      "(the batch's hash prefixes land as PartitionFilters, bounding " +
      "bytes read per trigger by touched slices) and prune-equal") {
    val path = tmpPath("st18prune")
    try {
      // enough ledger docs to populate many of the 16 prefix slices
      val texts = (0 until 64).map(i => s"st18 prune ledger doc $i")
      DedupOps.refreshLedger(spark, path, hashesOf(texts))
      val nSlices = new java.io.File(s"$path/hashes/seg=0").listFiles()
        .count(_.getName.startsWith("pfx=")) // sanity: partitioned layout
      nSlices should be > 4
      // a two-doc batch touches at most two prefix slices
      val batch = batchOf(Seq((1L, texts.head), (2L, "st18 prune novel")))
        .withColumn("content_hash", md5(col("text")))
      val pruned = DedupOps.prunedByPrefix(
        DedupOps.readHashLedger(spark, path), batch)
      // the prune is a PARTITION filter on the scan (the d9 plan-gate
      // pattern): listing and bytes are bounded by the batch's
      // prefixes, not the ledger's size
      val scan = pruned.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("Scan parquet")).get
      withClue(scan) {
        (scan.contains("PartitionFilters: [pfx#") &&
          (scan.contains(" IN ") || scan.contains("INSET"))) shouldBe true
      }
      pruned.count() should be < texts.size.toLong // slices actually skipped
      // pruning cannot change the anti-join: a ledger row whose prefix
      // no batch hash shares can never match a batch row
      def novel(ledger: org.apache.spark.sql.DataFrame) =
        batch.join(broadcast(ledger.select("content_hash")),
          Seq("content_hash"), "left_anti")
          .select("doc_id").collect().map(_.getLong(0)).toSet
      novel(pruned) shouldBe
        novel(DedupOps.readHashLedger(spark, path))
      novel(pruned) shouldBe Set(2L)
    } finally rm(new java.io.File(path))
  }

  test("ST10-live near-dup matching: a band-ledger takedown stops its " +
      "doc matching on the NEXT trigger (no restart), and a " +
      "resurrection resumes it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val path = tmpPath("st10live")
    try {
      val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
      val ledgerDocs = batchOf(Seq((1L, base),
        (2L, "entirely different ledger content with no shared grams " +
          "at all here")))
      DedupOps.refreshNearDupLedger(spark, path, ledgerDocs)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = graft.streaming.StreamOps.nearDupMatchesLive(
        in.toDF.toDF("doc_id", "text"), path, "text", DedupOps.jaccardT) {
        (b, _) => b.select("i", "j").collect()
          .foreach(r => got.synchronized {
            got += (r.getLong(0) -> r.getLong(1)) })
      }.start()
      try {
        val probe = base.replace("upsilon", "omega")
        in.addData((10L, probe))
        q.processAllAvailable()
        got.toSet shouldBe Set(10L -> 1L) // doc 1 matches pre-takedown
        DedupOps.removeFromBandLedger(spark, path, Seq(1L).toDF("doc_id"))
        in.addData((11L, probe))
        q.processAllAvailable()
        got.toSet shouldBe Set(10L -> 1L) // next trigger: no match
        // resurrection (refresh re-admits doc 1) resumes matching,
        // still without a restart
        DedupOps.refreshNearDupLedger(spark, path, ledgerDocs)
        in.addData((12L, probe))
        q.processAllAvailable()
        got.toSet shouldBe Set(10L -> 1L, 12L -> 1L)
      } finally q.stop()
    } finally {
      rm(new java.io.File(path))
      graft.operators.ScratchCache.releaseAll()
    }
  }

  test("ST6-shape streaming dedup over a taken-down ledger: the shrunk " +
      "state is honored on RESTART (the static-side snapshot contract) " +
      "and reclaimed content is then kept") {
    // A running stream's static ledger side PINS the committed
    // segments it was built over (its roots and its tombstone set) —
    // a takedown's new tombstone segment is therefore not visible to
    // an in-flight query, and picking it up is a query restart: the same contract ST16 documents for its filter
    // snapshot, and the same one any broadcast-model refresh has.
    // This test proves the restart path end-to-end: drop → takedown →
    // restart with a re-read ledger → the reclaimed content is NOVEL.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val path = tmpPath("st6")
    try {
      val texts = Seq("streamed standing doc", "streamed reclaimed doc")
      DedupOps.refreshLedger(spark, path, hashesOf(texts))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      def startQuery(name: String) = graft.streaming.StreamOps
        .incrementalDedup(
          in.toDF.toDF("doc_id", "text", "ts"),
          DedupOps.readHashLedger(spark, path).select("content_hash"),
          textCol = "text", tsCol = "ts", watermarkDelay = "10 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val q1 = startQuery("takedown_st6a")
      try {
        in.addData((1L, "streamed reclaimed doc", ts(100)))
        q1.processAllAvailable() // ledgered → dropped
        spark.table("takedown_st6a").count() shouldBe 0L
      } finally q1.stop()
      DedupOps.removeFromHashLedger(spark, path,
        hashesOf(Seq("streamed reclaimed doc")))
      // restart: the static side re-reads the (shrunk) ledger
      val q2 = startQuery("takedown_st6b")
      try {
        in.addData((2L, "streamed reclaimed doc", ts(101)),
          (3L, "streamed standing doc", ts(102)))
        q2.processAllAvailable()
        val kept = spark.table("takedown_st6b").select("doc_id")
          .collect().map(_.getLong(0)).toSet
        // the checkpoint-less restart replays from offset 0: the
        // reclaimed hash is admitted exactly ONCE (doc 1, its first
        // arrival; doc 2 drops as its in-stream duplicate) and the
        // standing hash still drops — post-takedown the content is
        // novel, with in-stream dedup semantics intact
        kept shouldBe Set(1L)
      } finally q2.stop()
    } finally rm(new java.io.File(path))
  }
}
