package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import StreamOps.Event

class StreamOpsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000)

  test("ST1 tumbling window with watermark emits closed windows once") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val out = StreamOps.tumblingAgg(
      in.toDF.toDF("ts", "kind", "v"),
      "ts", "10 seconds", "5 seconds",
      keys = Seq(col("kind")),
      aggs = Seq(count(lit(1)).as("n"), sum("v").as("total")))

    val q = out.writeStream.format("memory").queryName("st1")
      .outputMode("append").start()
    try {
      // window [0,10): 3 events; then advance the watermark past 10+5
      in.addData((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(8), "b", 4.0))
      q.processAllAvailable()
      in.addData((ts(30), "a", 9.0))
      q.processAllAvailable()
      in.addData((ts(60), "a", 0.0)) // push watermark again
      q.processAllAvailable()

      val rows = spark.table("st1")
        .select(col("window.start").cast("long").as("w"), col("kind"),
          col("n"), col("total"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      rows should contain((0L, "a", 2L, 3.0))
      rows should contain((0L, "b", 1L, 4.0))
      rows should contain((30L, "a", 1L, 9.0))
      // late event beyond the watermark is dropped
      in.addData((ts(3), "a", 100.0), (ts(90), "a", 0.0))
      q.processAllAvailable()
      spark.table("st1").filter(col("total") === 100.0).count() shouldBe 0
    } finally q.stop()
  }

  test("ST1 file-source stream: parquet directory drives the same agg") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    val batch = Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(8), "b", 4.0))
      .toDF("ts", "kind", "v")
    batch.write.mode("overwrite").parquet(dir.toString)

    val stream = spark.readStream.schema(batch.schema).parquet(dir.toString)
    val out = StreamOps.tumblingAgg(stream, "ts", "10 seconds", "5 seconds",
      keys = Seq(col("kind")),
      aggs = Seq(count(lit(1)).as("n"), sum("v").as("total")))
    val q = out.writeStream.format("memory").queryName("st1f")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a late file advances the watermark and closes the first window
      Seq((ts(60), "a", 0.0)).toDF("ts", "kind", "v")
        .write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      Seq((ts(120), "a", 0.0)).toDF("ts", "kind", "v")
        .write.mode("append").parquet(dir.toString)
      q.processAllAvailable()
      val rows = spark.table("st1f")
        .select(col("kind"), col("n"), col("total")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      rows should contain(("a", 2L, 3.0))
      rows should contain(("b", 1L, 4.0))
    } finally q.stop()
  }

  test("ST2 stateful sessionization closes sessions on gap timeout") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val out = StreamOps.sessionize(in.toDS(), gapMs = 10000)

    val q = out.writeStream.format("memory").queryName("st2")
      .outputMode("append").start()
    try {
      // user 1: events at 10s,14s; user 2: event at 12s (kept off epoch
      // 0 — the initial watermark — so nothing is spuriously "late")
      in.addData(Event(1, ts(10), 1.0), Event(1, ts(14), 2.0),
        Event(2, ts(12), 5.0))
      q.processAllAvailable()
      // advance watermark past 14s+10s → both sessions time out
      in.addData(Event(3, ts(60), 0.0))
      q.processAllAvailable()
      in.addData(Event(3, ts(120), 0.0))
      q.processAllAvailable()

      val sessions = spark.table("st2")
        .select("userId", "nEvents", "total").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      sessions should contain((1L, 2L, 3.0))
      sessions should contain((2L, 1L, 5.0))
    } finally q.stop()
  }

  test("ST3 dedup within watermark keeps first occurrence, bounded state") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)](spark)
    val out = StreamOps.dedupWithinWatermark(
      in.toDF.toDF("ts", "id", "payload"), "ts", "10 seconds", Seq("id"))

    val q = out.writeStream.format("memory").queryName("st3")
      .outputMode("append").start()
    try {
      in.addData((ts(1), 100L, "first"), (ts(2), 100L, "dup"),
        (ts(3), 200L, "only"))
      q.processAllAvailable()
      in.addData((ts(5), 100L, "dup2"))
      q.processAllAvailable()

      val rows = spark.table("st3").select("id", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      rows shouldBe Set((100L, "first"), (200L, "only"))
    } finally q.stop()
  }

  test("ST4 stream-static enrichment broadcasts the dim; unmatched kept") {
    import spark.implicits._
    val dim = Seq((1L, "eu"), (2L, "us")).toDF("nk", "region")
    val in = MemoryStream[(Long, Long)](spark)
    val out = StreamOps.enrich(
      in.toDF.toDF("event_id", "nk"), dim, Seq("nk"))

    val q = out.writeStream.format("memory").queryName("st4")
      .outputMode("append").start()
    try {
      in.addData((10L, 1L), (11L, 2L), (12L, 99L))
      q.processAllAvailable()
      val rows = spark.table("st4")
        .select("event_id", "region").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      rows shouldBe Set((10L, "eu"), (11L, "us"), (12L, null))
      // the static side joined via broadcast — no stream-side shuffle
      q.lastProgress.sources should have length 1
    } finally q.stop()
  }

  test("ST5 stream-stream interval join pairs within the window only") {
    import spark.implicits._
    val views = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val out = StreamOps.intervalJoin(
      views.toDF.toDF("user", "vts"), "vts", "5 seconds",
      buys.toDF.toDF("user", "bts"), "bts", "5 seconds",
      key = "user", within = "10 seconds")

    val q = out.writeStream.format("memory").queryName("st5")
      .outputMode("append").start()
    try {
      views.addData((1L, ts(100)), (2L, ts(100)))
      buys.addData(
        (1L, ts(105)), // within 10s of view → joined
        (1L, ts(150)), // far after → not joined
        (2L, ts(95))) // before the view → not joined
      q.processAllAvailable()
      val rows = spark.table("st5")
        .select(col("user"), col("vts").cast("long"), col("bts").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      rows shouldBe Set((1L, 100L, 105L))
      // state eviction contract: both sides watermarked
      q.lastProgress.eventTime should not be null
    } finally q.stop()
  }

  test("ST6 streaming incremental dedup: ledger anti-join + in-stream dedup") {
    import spark.implicits._
    val in = MemoryStream[(Long, String, Timestamp)](spark)
    // the already-ingested corpus' content hashes (static side)
    val ledger = Seq("already ingested doc").toDF("text")
      .select(md5(col("text")).as("content_hash"))
    val out = StreamOps.incrementalDedup(
      in.toDF.toDF("doc_id", "text", "ts"),
      ledger, textCol = "text", tsCol = "ts",
      watermarkDelay = "10 seconds")

    val q = out.writeStream.format("memory").queryName("st6")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "already ingested doc", ts(100)), // in ledger → dropped
        (2L, "fresh doc", ts(101)), // new → kept
        (3L, "fresh doc", ts(102)), // in-stream dup → dropped
        (4L, "another fresh", ts(103)))
      q.processAllAvailable()
      // a later micro-batch repeating an already-seen hash (within the
      // watermark horizon) is also dropped
      in.addData((5L, "fresh doc", ts(104)))
      q.processAllAvailable()
      val kept = spark.table("st6").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      kept shouldBe Set(2L, 4L)
    } finally q.stop()
  }

  test("ST16 bloom-guarded streaming ingest equals ST6, probes the " +
      "filter in-plan, and degrades to the full join without one") {
    import spark.implicits._
    val ledger = Seq("already ingested doc", "second known doc")
      .toDF("text").select(md5(col("text")).as("content_hash"))
    val bloom = ledger.agg(graft.functions.BloomMembership
        .bloomAgg(xxhash64(col("content_hash"))))
      .head.getAs[Array[Byte]](0)

    def runArm(bits: Option[Array[Byte]], name: String): Set[Long] = {
      val in = MemoryStream[(Long, String, Timestamp)](spark)
      val out = StreamOps.bloomGuardedIngest(
        in.toDF.toDF("doc_id", "text", "ts"), ledger, bits,
        textCol = "text", tsCol = "ts", watermarkDelay = "10 seconds")
      if (bits.isDefined) // the probe sits in the streaming plan itself
        out.queryExecution.analyzed.toString should include("bloom_guard")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(
          (1L, "already ingested doc", ts(100)), // ledgered → dropped
          (2L, "fresh doc", ts(101)), // novel → kept
          (3L, "fresh doc", ts(102)), // in-stream dup → dropped
          (4L, "second known doc", ts(103))) // ledgered → dropped
        q.processAllAvailable()
        in.addData((5L, "fresh doc", ts(104))) // replayed hash → dropped
        q.processAllAvailable()
        spark.table(name).select("doc_id").collect()
          .map(_.getLong(0)).toSet
      } finally q.stop()
    }
    runArm(Some(bloom), "st16") shouldBe Set(2L)
    runArm(None, "st16none") shouldBe Set(2L) // degraded arm identical
  }

  test("ST16 snapshot pin applies ONLY to bare file scans: a filtered " +
      "file-backed ledger is honored, not replaced by the full file set") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("st16pin").toFile.getAbsolutePath
    Seq("keep this hash", "caller excluded this hash").toDF("text")
      .select(md5(col("text")).as("content_hash"),
        lit("live").as("status"))
      .withColumn("status",
        when(col("content_hash") === md5(lit("caller excluded this hash")),
          lit("removed")).otherwise(col("status")))
      .write.mode("overwrite").parquet(dir)

    def runWith(ledger: org.apache.spark.sql.DataFrame): Set[Long] = {
      val in = MemoryStream[(Long, String, Timestamp)](spark)
      val name = s"st16pin${System.nanoTime()}"
      val out = StreamOps.bloomGuardedIngest(
        in.toDF.toDF("doc_id", "text", "ts"), ledger, None,
        textCol = "text", tsCol = "ts", watermarkDelay = "10 seconds")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(
          (1L, "keep this hash", ts(100)), // ledgered → dropped
          (2L, "caller excluded this hash", ts(101)), // removed → NOVEL
          (3L, "fresh doc", ts(102)))
        q.processAllAvailable()
        spark.table(name).select("doc_id").collect()
          .map(_.getLong(0)).toSet
      } finally q.stop()
    }
    // row-filtered frame: the caller excluded the "removed" row — the
    // pin must fall through (a column-name check would silently swap
    // in the unfiltered files and wrongly drop doc 2)
    runWith(spark.read.parquet(dir)
      .filter(col("status") === "live")
      .select("content_hash")) shouldBe Set(2L, 3L)
    // bare (column-pruned) scan: pinned to the explicit file list and
    // fully honored — both ledgered rows drop
    runWith(spark.read.parquet(dir)
      .select("content_hash")) shouldBe Set(3L)
  }

  test("ST7 streaming span decontamination: ledger overlap drops documents") {
    import spark.implicits._
    val holdout = "the quick brown fox jumps over the lazy dog every day"
    val ledger = StreamOps.spanLedger(
      Seq(holdout).toDF("text"), "text", spanK = 4)

    val in = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamOps.spanDecontaminate(
      in.toDF.toDF("doc_id", "text", "ts"), ledger,
      textCol = "text", tsCol = "ts", watermarkDelay = "5 seconds",
      spanK = 4, maxSharedFrac = 0.5)

    val q = out.writeStream.format("memory").queryName("st7")
      .outputMode("append").start()
    try {
      in.addData(
        // 7 distinct 4-grams, all in the holdout → shared frac 1.0
        (1L, "the quick brown fox jumps over the lazy dog every", ts(1)),
        // 9 words → 6 distinct 4-grams, none in the holdout → kept
        (2L, "completely novel writing with no benchmark overlap at all", ts(1)),
        // shares exactly the leading 4 words = two of its seven 4-grams
        // (frac 2/7 ≤ 0.5) → kept... first FIVE words share two grams
        (3L, "the quick brown fox sits calmly beside a different dog", ts(2)))
      q.processAllAvailable()
      in.addData((9L, "watermark push", ts(60))) // close the windows
      q.processAllAvailable()
      in.addData((10L, "watermark push again", ts(120)))
      q.processAllAvailable()

      val rows = spark.table("st7")
        .select("doc_id", "n_grams", "n_shared", "kept").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      rows(1L) shouldBe ((7L, 7L, false)) // fully contaminated → dropped
      rows(2L) shouldBe ((6L, 0L, true))
      rows(3L)._3 shouldBe true
      rows(3L)._2 should be < rows(3L)._1 // partial overlap, under frac
    } finally q.stop()
  }

  test("ST8 streaming sequence packing: state carries fill across " +
    "micro-batches, rollover exact, sources independent") {
    import spark.implicits._
    import StreamOps.{PackDoc, PackedDoc}
    val in = MemoryStream[PackDoc](spark)
    val out = StreamOps.packStream(in.toDS(), budget = 100L)

    val q = out.writeStream.format("memory").queryName("st8")
      .outputMode("append").start()
    try {
      in.addData(
        PackDoc("a", 1L, 40L), PackDoc("a", 2L, 50L), PackDoc("a", 3L, 30L),
        PackDoc("b", 10L, 150L), PackDoc("b", 11L, 10L))
      q.processAllAvailable()
      // batch 2 continues from batch 1's remainder (a: seq 1 holds 30)
      in.addData(PackDoc("a", 4L, 60L), PackDoc("a", 5L, 20L))
      q.processAllAvailable()

      val rows = spark.table("st8").as[PackedDoc].collect()
        .map(p => p.docId -> ((p.seqId, p.offset))).toMap
      // source a, batch 1: 40+50=90 fits; 30 rolls to seq 1
      rows(1L) shouldBe ((0L, 0L))
      rows(2L) shouldBe ((0L, 40L))
      rows(3L) shouldBe ((1L, 0L))
      // source b: oversized doc owns seq 0 alone; next doc rolls
      rows(10L) shouldBe ((0L, 0L))
      rows(11L) shouldBe ((1L, 0L))
      // batch 2, source a: 30+60=90 still fits seq 1; 20 rolls to seq 2
      rows(4L) shouldBe ((1L, 30L))
      rows(5L) shouldBe ((2L, 0L))

      // every sequence respects the budget unless a single doc overflows
      val bySeq = spark.table("st8").as[PackedDoc].collect()
        .groupBy(p => (p.source, p.seqId))
      bySeq.values.foreach { docs =>
        val total = docs.map(_.nTokens).sum
        if (docs.length > 1) total should be <= 100L
        // offsets are the exact running prefix sum in doc-id order
        docs.sortBy(_.docId).foldLeft(0L) { (acc, d) =>
          d.offset shouldBe acc
          acc + d.nTokens
        }
        ()
      }
    } finally q.stop()
  }

  test("ST9 streaming ANN equals batch PQ scoring for the same queries") {
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cbDf = graft.operators.ProductQuantizer
      .trainCodebook(emb, 64, 8, 16, 2, n)
    val codebook = graft.operators.ProductQuantizer.collectCodebook(cbDf)
    val codes = graft.operators.ProductQuantizer.encode(emb, cbDf, 64, 8)
      .cache()

    // batch reference: same queries through the batch ADC fold + top-k
    val qVecs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        graft.functions.VectorFunctions.norm(col("embedding")).as("qnorm"))
    val batchTop = graft.operators.ProductQuantizer
      .adcScores(codes, cbDf, qVecs, 64, 8, 16)
      .groupBy("qid")
      .agg(graft.functions.TopKAggregate
        .topKByScore(col("score"), col("vec_id"), 5).as("top"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getAs[Long]("id"), x.getAs[Double]("score"))))
      .toMap

    val in = MemoryStream[(Long, Seq[Float])](spark)
    val out = StreamOps.annScoreStream(
      in.toDF.toDF("qid", "qemb"), codes, codebook, topK = 5)
    val q = out.writeStream.format("memory").queryName("st9")
      .outputMode("update").start()
    try {
      val queryRows = emb.filter(col("vec_id") < 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      in.addData(queryRows.take(2).toIndexedSeq)
      q.processAllAvailable()
      in.addData(queryRows.drop(2).toIndexedSeq)
      q.processAllAvailable()

      val got = spark.table("st9").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x =>
            (x.getAs[Long]("id"), x.getAs[Double]("score"))))
        .toMap
      got.keySet shouldBe batchTop.keySet
      batchTop.foreach { case (qid, top) =>
        withClue(s"qid $qid: ") { got(qid) shouldBe top }
      }
    } finally {
      q.stop()
      codes.unpersist()
    }
  }

  test("ST10 streaming near-dup matching equals batch d13 across " +
      "micro-batches") {
    import spark.implicits._
    val all = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
    // the standing corpus' band index (d13's ledger schema), static
    val ledger = graft.queries.DedupOps.minhashIndex(
      all.filter(col("source") =!= "src0").select("doc_id", "text"))
      .localCheckpoint()
    val batchDocs = all.filter(col("source") === "src0")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = MemoryStream[(Long, String)](spark)
    val out = StreamOps.nearDupMatches(
      in.toDF.toDF("doc_id", "text"), ledger, "text", t = 0.8)
    val q = out.writeStream.format("memory").queryName("st10")
      .outputMode("append").start()
    try {
      val (b1, b2) = batchDocs.splitAt(batchDocs.length / 2)
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("st10").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val expect = graft.SparkEntry.queries("d13_incremental_neardup")(
          spark, TestSpark.sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      got.keySet shouldBe expect.keySet
      expect.foreach { case (k, jac) =>
        withClue(s"pair $k: ") { got(k) shouldBe jac +- 1e-12 }
      }
      // stateless by construction: no keyed state, no watermark — the
      // query's progress reports zero state rows
      val p = q.lastProgress
      Option(p.stateOperators).map(_.length).getOrElse(0) shouldBe 0
    } finally q.stop()
  }

  test("ST11 streaming scrub+score equals the batch t15/t2 projections " +
      "across micro-batches, including planted PII") {
    import spark.implicits._
    // the t15 planting scheme, driver-side: deterministic PII appended
    // to real corpus text so the regexes have true positives to find
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents")
      .select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0)
        val planted = r.getString(1) +
          (if (id % 7 == 0) s" reach u$id@mail.example.com" else "") +
          (if (id % 11 == 0) f" call 415-555-${id % 10000}%04d" else "") +
          (if (id % 13 == 0) s" from 10.${id % 256}.${(id / 256) % 256}.7"
           else "")
        (id, planted)
      }
    val in = MemoryStream[(Long, String)](spark)
    val out = StreamOps.scrubAndScore(in.toDF.toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("st11")
      .outputMode("append").start()
    try {
      val (b1, rest) = docs.splitAt(docs.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b =>
        in.addData(b.toIndexedSeq); q.processAllAvailable()
      }
      val got = spark.table("st11").collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      // batch face: the same shared projections over the same frame
      val batchIn = docs.toSeq.toDF("doc_id", "text")
      val expect = StreamOps.scrubAndScore(batchIn).collect()
        .map(r => r.getLong(0) -> r.toSeq).toMap
      got.keySet shouldBe expect.keySet
      expect.foreach { case (id, row) =>
        withClue(s"doc $id: ") { got(id) shouldBe row }
      }
      // the plants were actually found and redacted
      val hits = spark.table("st11")
        .filter(col("n_email") + col("n_phone") + col("n_ip") > 0)
      hits.count() should be > 0L
      hits.filter(col("clean_text").rlike("mail\\.example\\.com"))
        .count() shouldBe 0L
      // stateless map-side: no keyed state, no watermark
      Option(q.lastProgress.stateOperators)
        .map(_.length).getOrElse(0) shouldBe 0
    } finally q.stop()
  }

  // ------------------------------------------------------------ recovery
  // Restart-recovery gates: kill the query between (and once, BEFORE)
  // commits and restart from the checkpoint; output must equal the
  // uninterrupted run. This is the exactly-once property a production
  // pipeline actually leans on: keyed state (ST2 session aggs, ST8 pack
  // fill, ST9 top-k heaps), the watermark, and source offsets all come
  // back from the checkpoint, not from luck. The memory sink refuses
  // checkpoint recovery, so these collect through foreachBatch (which
  // supports it).

  /** A recovery test over a fresh checkpoint dir, deleted afterwards. */
  private def recoveryTest(name: String)(body: String => Any): Unit =
    test(name) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
      try body(ckpt.toString)
      finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }

  recoveryTest("ST2 recovery: sessions survive a kill + restart from " +
      "checkpoint") { ckpt =>
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val out = StreamOps.sessionize(in.toDS(), gapMs = 10000)
    val buf = scala.collection.mutable.Buffer.empty[(Long, Long, Double)]
    def start() = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamOps.Session],
          _: Long) =>
        val rows = ds.collect().map(s => (s.userId, s.nEvents, s.total))
        buf.synchronized { buf ++= rows }; ()
      }
      .start()

    // phase 1: open sessions for users 1 and 2 (no output yet), then
    // enqueue the watermark-advancing batch WITHOUT processing it and
    // kill — the restart must replay it from the recovered offset
    val q1 = start()
    try {
      in.addData(Event(1, ts(10), 1.0), Event(1, ts(14), 2.0),
        Event(2, ts(12), 5.0))
      q1.processAllAvailable()
    } finally q1.stop()
    in.addData(Event(3, ts(60), 0.0))

    // phase 2: restart from the checkpoint; recovered state + watermark
    // close both sessions exactly once
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(Event(3, ts(120), 0.0))
      q2.processAllAvailable()
    } finally q2.stop()

    val sessions = buf.synchronized(buf.toSet)
    sessions should contain((1L, 2L, 3.0))
    sessions should contain((2L, 1L, 5.0))
    // exactly once: no session emitted twice across the restart
    buf.synchronized(buf.size) shouldBe buf.synchronized(buf.toSet.size)
  }

  recoveryTest("ST8 recovery: pack fill state survives a kill + " +
      "restart") { ckpt =>
    import spark.implicits._
    import StreamOps.{PackDoc, PackedDoc}
    val in = MemoryStream[PackDoc](spark)
    val out = StreamOps.packStream(in.toDS(), budget = 100L)
    val buf = scala.collection.mutable.Buffer.empty[PackedDoc]
    def start() = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[PackedDoc],
          _: Long) =>
        val rows = ds.collect(); buf.synchronized { buf ++= rows }; ()
      }
      .start()

    val q1 = start()
    try {
      in.addData(
        PackDoc("a", 1L, 40L), PackDoc("a", 2L, 50L), PackDoc("a", 3L, 30L))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      // the continuation only packs correctly if PackState(seqId=1,
      // used=30) came back from the checkpoint: doc 4 (60) must land at
      // (1, 30), not restart at (0, 0)
      in.addData(PackDoc("a", 4L, 60L), PackDoc("a", 5L, 20L))
      q2.processAllAvailable()
    } finally q2.stop()

    val rows = buf.synchronized(buf.toSeq)
    rows.map(_.docId).sorted shouldBe Seq(1L, 2L, 3L, 4L, 5L)
    val byDoc = rows.map(p => p.docId -> ((p.seqId, p.offset))).toMap
    byDoc(3L) shouldBe ((1L, 0L))
    byDoc(4L) shouldBe ((1L, 30L)) // recovered fill, the crux
    byDoc(5L) shouldBe ((2L, 0L))
  }

  test("ST15 streaming token-budget fill equals batch t22 across " +
      "micro-batches") {
    import spark.implicits._
    import StreamOps.{FilledDoc, PackDoc}
    // the batch reference: t22's selected rows carry the per-source
    // budgets the stream receives as its planning input
    val batch = graft.SparkEntry.queries("t22_token_budget_mixture")(
      spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val budgets = batch.map(r => r._1 -> r._5).toMap
    // the full corpus in per-source doc-id order, split into three
    // micro-batches by doc_id range (arrival order = doc order, the
    // documented stream ≡ batch precondition)
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents")
      .select(col("source"), col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("n_tok"))
      .collect()
      .map(r => PackDoc(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.docId)
    val splits = docs.grouped(math.max(1, docs.length / 3 + 1)).toSeq

    val in = MemoryStream[PackDoc](spark)
    val out = StreamOps.budgetFillStream(in.toDS(), budgets)
    val q = out.writeStream.format("memory").queryName("st15")
      .outputMode("append").start()
    try {
      splits.foreach { b => in.addData(b.toIndexedSeq); q.processAllAvailable() }
      val got = spark.table("st15").as[FilledDoc].collect()
        .map(f => (f.source, f.docId, f.nTokens, f.cumTok, f.budget))
      got.sortBy(r => (r._1, r._2)) shouldBe batch.sortBy(r => (r._1, r._2))
    } finally q.stop()
  }

  recoveryTest("ST15 recovery: spent-budget state survives a kill + restart " +
      "and the resumed stream still equals batch t22") { ckpt =>
    import spark.implicits._
    import StreamOps.{FilledDoc, PackDoc}
    val batch = graft.SparkEntry.queries("t22_token_budget_mixture")(
      spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val budgets = batch.map(r => r._1 -> r._5).toMap
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents")
      .select(col("source"), col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("n_tok"))
      .collect()
      .map(r => PackDoc(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.docId)
    val (first, rest) = docs.splitAt(docs.length / 2)

    val in = MemoryStream[PackDoc](spark)
    val out = StreamOps.budgetFillStream(in.toDS(), budgets)
    val buf = scala.collection.mutable.Buffer.empty[FilledDoc]
    def start() = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[FilledDoc],
          _: Long) =>
        val rows = ds.collect(); buf.synchronized { buf ++= rows }; ()
      }
      .start()

    val q1 = start()
    try {
      in.addData(first.toIndexedSeq)
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      // a lost BudgetState would re-admit over-budget documents here:
      // the recovered `used` is what keeps the continuation exact
      in.addData(rest.toIndexedSeq)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = buf.synchronized(buf.toSeq)
      .map(f => (f.source, f.docId, f.nTokens, f.cumTok, f.budget))
    got.sortBy(r => (r._1, r._2)) shouldBe
      batch.toSeq.sortBy(r => (r._1, r._2))
  }

  recoveryTest("ST9 recovery: streaming ANN equals batch results across " +
      "a restart") { ckpt =>
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cbDf = graft.operators.ProductQuantizer
      .trainCodebook(emb, 64, 8, 16, 2, n)
    val codebook = graft.operators.ProductQuantizer.collectCodebook(cbDf)
    val codes = graft.operators.ProductQuantizer.encode(emb, cbDf, 64, 8)
      .cache()
    val batchTop = graft.operators.ProductQuantizer
      .adcScores(codes, cbDf,
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
            graft.functions.VectorFunctions.norm(col("embedding"))
              .as("qnorm")),
        64, 8, 16)
      .groupBy("qid")
      .agg(graft.functions.TopKAggregate
        .topKByScore(col("score"), col("vec_id"), 5).as("top"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x =>
          (x.getAs[Long]("id"), x.getAs[Double]("score"))))
      .toMap

    val in = MemoryStream[(Long, Seq[Float])](spark)
    val out = StreamOps.annScoreStream(
      in.toDF.toDF("qid", "qemb"), codes, codebook, topK = 5)
    // update mode re-emits a qid's row when its aggregate changes: keep
    // the LATEST row per qid (what an upsert sink would hold)
    val latest = scala.collection.mutable
      .Map.empty[Long, Seq[(Long, Double)]]
    def start() = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val rows = df.collect().map(r => r.getLong(0) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x =>
            (x.getAs[Long]("id"), x.getAs[Double]("score"))))
        latest.synchronized { rows.foreach { case (k, v) => latest(k) = v } }
        ()
      }
      .start()

    val queryRows = emb.filter(col("vec_id") < 3).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val q1 = start()
    try {
      in.addData(queryRows.take(2).toIndexedSeq)
      q1.processAllAvailable()
    } finally q1.stop()
    // enqueue the last query unprocessed: the restart must replay it
    in.addData(queryRows.drop(2).toIndexedSeq)
    val q2 = start()
    try q2.processAllAvailable() finally { q2.stop(); codes.unpersist() }

    val got = latest.synchronized(latest.toMap)
    got.keySet shouldBe batchTop.keySet
    batchTop.foreach { case (qid, top) =>
      withClue(s"qid $qid: ") { got(qid) shouldBe top }
    }
  }

  recoveryTest("ST5 recovery: buffered join state survives a kill + " +
      "restart") { ckpt =>
    // The interval join's state is the BUFFERED unmatched rows of both
    // sides; the property a production attribution pipeline leans on is
    // that a right event arriving AFTER a crash still joins a left
    // event buffered BEFORE it. Kill with (a) an already-emitted pair
    // (must not re-emit) and (b) a view buffered but unmatched; the
    // matching buy arrives only after the restart.
    import spark.implicits._
    val views = MemoryStream[(Long, Timestamp)](spark)
    val buys = MemoryStream[(Long, Timestamp)](spark)
    val out = StreamOps.intervalJoin(
      views.toDF.toDF("user", "vts"), "vts", "5 seconds",
      buys.toDF.toDF("user", "bts"), "bts", "5 seconds",
      key = "user", within = "10 seconds")
    val buf = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
    def start() = out.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val rows = df
          .select(col("user"), col("vts").cast("long"),
            col("bts").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        buf.synchronized { buf ++= rows }; ()
      }
      .start()

    val q1 = start()
    try {
      // user 2's pair matches and EMITS pre-kill; user 1's view buffers
      views.addData((1L, ts(100)), (2L, ts(100)))
      buys.addData((2L, ts(103)))
      q1.processAllAvailable()
      buf.synchronized(buf.toSet) shouldBe Set((2L, 100L, 103L))
    } finally q1.stop()
    // the crux arrives while the query is DOWN: joins 1's buffered view
    buys.addData((1L, ts(105)))

    val q2 = start()
    try {
      q2.processAllAvailable()
      // post-restart pairs still join; out-of-interval buys still don't
      views.addData((3L, ts(200)))
      buys.addData((3L, ts(205)), (1L, ts(150)))
      q2.processAllAvailable()
    } finally q2.stop()

    buf.synchronized(buf.toSet) shouldBe Set(
      (2L, 100L, 103L),  // emitted once, pre-kill
      (1L, 100L, 105L),  // pre-kill view ⋈ post-restart buy (recovered)
      (3L, 200L, 205L))  // fully post-restart
    // exactly once: nothing re-emitted across the restart
    buf.synchronized(buf.size) shouldBe 3
  }

  test("ST17 streaming takedowns: micro-batched tombstones equal the " +
      "batch set, replays append nothing, probes exclude immediately") {
    import spark.implicits._
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val path = s"/tmp/graft_state/graft_st17_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st17_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      graft.queries.SimilarityOps.refreshIvfLedger(spark, path, e)
      val dead = e.filter(col("vec_id") % 9 === 2)
        .select("vec_id").collect().map(_.getLong(0))
      val (b1, b2) = dead.splitAt(dead.length / 2)
      val in = MemoryStream[Long](spark)
      val q = StreamOps.takedownStream(in.toDF.toDF("vec_id"), path)
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        graft.queries.SimilarityOps.s8Tombs(spark, path)
          .collect().map(_.getLong(0)).toSet shouldBe dead.toSet
        // replaying already-applied takedowns appends NO new segment
        val segs = new java.io.File(s"$path/commits").list().sorted
        in.addData(b1: _*); q.processAllAvailable()
        new java.io.File(s"$path/commits").list().sorted shouldBe segs
        // a reader that honors tombstones drops them immediately — no
        // compaction, no index rewrite (the raw probe still surfaces
        // them; exclusion is the reader's anti-join, s13's contract)
        val live = graft.queries.SimilarityOps
          .s8Probe(spark, path, e.filter(col("vec_id") < 4))
          .join(org.apache.spark.sql.functions.broadcast(
            graft.queries.SimilarityOps.s8Tombs(spark, path)),
            Seq("vec_id"), "left_anti")
        live.filter(col("vec_id") % 9 === 2).count() shouldBe 0L
        live.count() should be > 0L
      } finally q.stop()
    } finally {
      rm(new java.io.File(path)); rm(new java.io.File(ckpt))
    }
  }

  test("ST17 takedownStream against the kNN-GRAPH ledger: the shared " +
      "segment protocol makes the stream path-generic — takedowns " +
      "vanish from the merged read on both sides per trigger") {
    // s14's streaming face needs no new operator: the s8/s10 ledgers
    // share the committed-segment + lease protocol, so the SAME
    // takedownStream lands tombstones on a graph ledger and s10Graph's
    // two-sided exclusion honors them on its next read
    import spark.implicits._
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val path = s"/tmp/graft_state/graft_st17g_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st17g_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      graft.queries.SimilarityOps.refreshKnnLedger(spark, path, e)
      val dead = e.filter(col("vec_id") % 11 === 3)
        .select("vec_id").collect().map(_.getLong(0))
      val (b1, b2) = dead.splitAt(dead.length / 2)
      val in = MemoryStream[Long](spark)
      val q = StreamOps.takedownStream(in.toDF.toDF("vec_id"), path)
        .option("checkpointLocation", ckpt).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        graft.queries.SimilarityOps.s8Tombs(spark, path)
          .collect().map(_.getLong(0)).toSet shouldBe dead.toSet
        // replay appends nothing (the batch writer's novelty contract)
        val segs = new java.io.File(s"$path/commits").list().sorted
        in.addData(b2: _*); q.processAllAvailable()
        new java.io.File(s"$path/commits").list().sorted shouldBe segs
        // the merged graph read excludes on BOTH sides immediately
        val g = graft.queries.SimilarityOps.s10Graph(spark, path, None)
          .select("qid", "neighbor_id").collect()
        val deadSet = dead.toSet
        g.foreach { r =>
          deadSet should not contain r.getLong(0)
          deadSet should not contain r.getLong(1)
        }
        g.length should be > 0
      } finally q.stop()
    } finally {
      rm(new java.io.File(path)); rm(new java.io.File(ckpt))
    }
  }

  test("ST12 streaming ANN ingest: micro-batched ledger equals the " +
      "batch build; torn segments and replays converge (exactly-once)") {
    import spark.implicits._
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val path = s"/tmp/graft_state/graft_st12_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st12_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // production shape: the standing corpus bootstraps the ledger
      // (trains the quantizer) BEFORE the stream attaches
      graft.queries.SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(3)) === 0))
      // the rest arrives as a stream, in three micro-batches
      val rows = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val in = MemoryStream[(Long, Seq[Float])](spark)
      val q = StreamOps.ingestAnnStream(
          in.toDF.toDF("vec_id", "embedding"), path)
        .option("checkpointLocation", ckpt).start()
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def partFiles() = walk(new java.io.File(path))
        .filter(_.getName.startsWith("part-"))
        .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        // a torn (marker-less) segment appearing mid-stream — the
        // crash shape — is cleaned by the next micro-batch's refresh
        val torn = new java.io.File(s"$path/assign/seg=99/cid=0")
        torn.mkdirs()
        new java.io.File(torn, "part-torn.parquet").createNewFile()
        in.addData(b2: _*); q.processAllAvailable()
        new java.io.File(s"$path/assign/seg=99").exists() shouldBe false
        in.addData(b3: _*); q.processAllAvailable()
        // at-least-once delivery: the same rows arriving again append
        // NOTHING (novelty keys on committed ids) — ledger files
        // byte-identical before and after the replay
        val files = partFiles()
        in.addData(b3: _*); q.processAllAvailable()
        partFiles() shouldBe files
      } finally q.stop()
      // exactly-once contents: the streamed ledger is row-for-row the
      // single-batch build (assignment to fixed centroids is
      // deterministic), covering the whole corpus exactly once
      val cents = spark.read.parquet(s"$path/centroids")
      val fresh = graft.queries.SimilarityOps.assignNearest(e, cents)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stored = graft.queries.SimilarityOps.s8Assign(spark, path, None)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      stored shouldBe fresh
      stored.size.toLong shouldBe e.count()
    } finally {
      rm(new java.io.File(path)); rm(new java.io.File(ckpt))
    }
  }
  test("ST14 streaming kNN-graph maintenance: micro-batched ledger " +
      "equals the one-pass graph; replays idempotent; cold start refused") {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine
    import graft.queries.SimilarityOps
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val path = s"/tmp/graft_state/graft_st14_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st14_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // cold start refused (the quantizer would train on batch 1)
      val cold = MemoryStream[(Long, Seq[Float])](spark)
      an[IllegalArgumentException] should be thrownBy
        StreamOps.ingestKnnGraphStream(
          cold.toDF.toDF("vec_id", "embedding"), path)
      // production shape: the standing corpus bootstraps the graph
      SimilarityOps.refreshKnnLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(3)) === 0))
      val rows = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[(Long, Seq[Float])](spark)
      val q = StreamOps.ingestKnnGraphStream(
          in.toDF.toDF("vec_id", "embedding"), path)
        .option("checkpointLocation", ckpt).start()
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def partFiles() = walk(new java.io.File(path))
        .filter(_.getName.startsWith("part-"))
        .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        // at-least-once delivery: replaying a batch appends nothing
        val files = partFiles()
        in.addData(b2: _*); q.processAllAvailable()
        partFiles() shouldBe files
      } finally q.stop()
      // the streamed ledger's merged graph is row-for-row the one-pass
      // build against the STORED quantizer (the s10 contract)
      val cents = spark.read.parquet(s"$path/centroids")
      val nprobe = graft.queries.LshTuning.nprobeFor(
        cents.count().toInt, SimilarityOps.nprobeFloor)
      val assign = SimilarityOps.assignNearest(e, cents)
      val probes = SimilarityOps.probeTopAgg(e, cents, nprobe)
      val scored = probes.join(assign, Seq("cid"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      val ref = SimilarityOps.topKAgg(scored, SimilarityOps.KG,
        ordered = true).collect().map(_.toSeq)
      SimilarityOps.s10Graph(spark, path, None)
        .orderBy("qid", "rank").collect().map(_.toSeq) shouldBe ref
    } finally {
      rm(new java.io.File(path)); rm(new java.io.File(ckpt))
    }
  }

  test("ST14 recovery: kill between micro-batches, resume from the " +
      "checkpoint — recovered ledger equals the uninterrupted build") {
    // the ST9-pattern recovery case ST14 lacked (r16 verdict #7): the
    // driver dies AFTER batch 1 commits, batch 2 arrives while the
    // query is down, a fresh query resumes from the SAME checkpoint.
    // Exactly-once: the restart must replay only the unprocessed
    // offsets; the marker protocol + novelty anti-join make a replayed
    // offset a no-op, so the final ledger is row-for-row the one-pass
    // reference against the stored quantizer.
    import spark.implicits._
    import graft.functions.VectorFunctions.cosine
    import graft.queries.SimilarityOps
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val path = s"/tmp/graft_state/graft_st14r_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st14r_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshKnnLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(3)) === 0))
      val rows = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      val (b1, b2) = rows.splitAt(rows.length / 2)
      val in = MemoryStream[(Long, Seq[Float])](spark)
      def start() = StreamOps.ingestKnnGraphStream(
          in.toDF.toDF("vec_id", "embedding"), path)
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      try { in.addData(b1: _*); q1.processAllAvailable() }
      finally q1.stop() // the kill
      in.addData(b2: _*) // arrives while the query is down
      val q2 = start() // resume from the same checkpoint
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      def partFiles() = walk(new java.io.File(path))
        .filter(_.getName.startsWith("part-"))
        .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
      try {
        q2.processAllAvailable()
        // post-recovery replay stays a no-op (at-least-once armor)
        val files = partFiles()
        in.addData(b2: _*); q2.processAllAvailable()
        partFiles() shouldBe files
      } finally q2.stop()
      val cents = spark.read.parquet(s"$path/centroids")
      val nprobe = graft.queries.LshTuning.nprobeFor(
        cents.count().toInt, SimilarityOps.nprobeFloor)
      val assign = SimilarityOps.assignNearest(e, cents)
      val probes = SimilarityOps.probeTopAgg(e, cents, nprobe)
      val scored = probes.join(assign, Seq("cid"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      val ref = SimilarityOps.topKAgg(scored, SimilarityOps.KG,
        ordered = true).collect().map(_.toSeq)
      SimilarityOps.s10Graph(spark, path, None)
        .orderBy("qid", "rank").collect().map(_.toSeq) shouldBe ref
    } finally {
      rm(new java.io.File(path)); rm(new java.io.File(ckpt))
    }
  }

  test("ST13 streaming classification: micro-batched scoring equals " +
      "the batch classifier; same-id replay is idempotent") {
    import spark.implicits._
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val outDir = s"/tmp/graft_state/graft_st13_$suffix"
    val ckpt = s"/tmp/graft_state/graft_st13_ckpt_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val d = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
        .select("doc_id", "source", "text")
      val train = d.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val ev = d.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val rows = ev.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      val in = MemoryStream[(Long, String, String)](spark)
      val q = StreamOps.classifyStream(
          in.toDF.toDF("doc_id", "source", "text"), train, outDir)
        .option("checkpointLocation", ckpt).start()
      try {
        Seq(b1, b2, b3).foreach { b =>
          in.addData(b: _*); q.processAllAvailable()
        }
      } finally q.stop()
      def readAll() = spark.read.parquet(outDir + "/batch=*")
        .collect().map(r => (r.getLong(0),
          (r.getString(1), r.getString(2), r.getBoolean(3)))).toMap
      val streamed = readAll()
      // every eval doc classified exactly once, equal to the batch op
      val batch = graft.queries.TextOps.nbClassify(ev,
          graft.queries.TextOps.nbTrain(train), saltW = 0)
        .collect().map(r => (r.getLong(0),
          (r.getString(1), r.getString(2), r.getBoolean(3)))).toMap
      streamed.size shouldBe rows.length
      streamed shouldBe batch
      // at-least-once replay of a batch ID rewrites its dir to the
      // identical contents (deterministic scoring vs the pinned model)
      val model = graft.queries.TextOps.nbTrain(train).pinned
      graft.queries.TextOps.nbClassify(
          b1.toSeq.toDF("doc_id", "source", "text"), model, saltW = 0)
        .write.mode("overwrite").parquet(s"$outDir/batch=0")
      readAll() shouldBe streamed
    } finally {
      rm(new java.io.File(outDir)); rm(new java.io.File(ckpt))
    }
  }

}
