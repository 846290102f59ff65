package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.TestSpark
import graft.state.SegmentLedger

/** Quality gate for the approximate similarity operators: recall@k
  * against the exact brute-force baseline (s1) on sf0.001. LSH/IVF trade
  * recall for bounded candidate sets; these bounds catch a silently
  * broken bucketing (recall ≈ random) without demanding exactness.
  */
class AnnRecallSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def neighborSets(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def recall(approx: Map[Long, Set[Long]],
      exact: Map[Long, Set[Long]]): Double = {
    val hits = exact.keys.toSeq.map { q =>
      val a = approx.getOrElse(q, Set.empty)
      a.intersect(exact(q)).size.toDouble / exact(q).size
    }
    hits.sum / hits.size
  }

  test("S4 int8 quantization: range bound and reconstruction error bound") {
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val rows = SparkEntry.queries("s4_quantize_int8")(spark, TestSpark.sfDir)
      .collect()
    rows.length shouldBe e.size * e.head._2.length
    rows.foreach { r =>
      val (id, pos, q, scale) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))
      math.abs(q) should be <= 127
      // symmetric round-to-nearest: |x − q·scale| ≤ scale/2
      val x = e(id)(pos.toInt - 1).toDouble
      math.abs(x - q * scale) should be <= scale / 2 + 1e-12
    }
  }

  test("S8 incremental ANN: ledger idempotent, incremental assignment " +
      "equals from-scratch against stored centroids, recall sane") {
    val path = SimilarityOps.s8LedgerPath(TestSpark.sfDir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    rm(new java.io.File(path)) // cold start: bootstrap + append run
    def runS8() = SparkEntry.queries("s8_ann_incremental")(
      spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq
    val first = runS8()
    first.size should be > 0
    // idempotence: steady state appends nothing and repeats the output
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def snapshot() = walk(new java.io.File(path))
      .filter(_.getName.startsWith("part-"))
      .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
    val files = snapshot()
    runS8() shouldBe first
    snapshot() shouldBe files
    // incremental ≡ from-scratch: every stored assignment equals a
    // fresh assignNearest against the STORED centroids — the appended
    // batch rows included (assignment to fixed centroids is
    // deterministic, so the append path cannot drift)
    val cents = spark.read.parquet(s"$path/centroids")
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding")
    val fresh = SimilarityOps.assignNearest(e, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = SimilarityOps.s8Assign(spark, path, None)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    stored shouldBe fresh
    // the index covers the whole corpus exactly once
    stored.size shouldBe e.count()
    // probing the stored index retrieves real neighbors
    val exact = neighborSets("s1_ann_bruteforce")
    val inc = neighborSets("s8_ann_incremental")
    val r = recall(inc, exact)
    info(f"S8 recall@10 at sf0.001 = $r%.3f")
    r should be >= 0.5
  }

  test("S8 ledger: torn (marker-less) segments are invisible and " +
      "cleaned; compaction is read-equivalent and crash-recoverable") {
    import org.apache.spark.sql.functions._
    val path = s"/tmp/graft_state/graft_s8_spec_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // bootstrap + 3 daily appends → a 4-segment chain
      SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      (1 to 3).foreach { i =>
        SimilarityOps.refreshIvfLedger(spark, path,
          e.filter(pmod(col("vec_id"), lit(4)) <= i))
      }
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0, 1, 2, 3)
      def snapshot() = SimilarityOps.s8Assign(spark, path, None)
        .collect().map(_.toSeq).sortBy(_.toString)
      val before = snapshot()
      before.length.toLong shouldBe e.count()

      // a TORN append (assign seg written, commit marker never
      // created — the mid-crash state): invisible to readers, deleted
      // and re-derived by the next refresh without duplicating rows
      val torn = new java.io.File(s"$path/assign/seg=9/cid=0")
      torn.mkdirs()
      new java.io.File(torn, "part-torn.parquet").createNewFile()
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0, 1, 2, 3)
      SimilarityOps.refreshIvfLedger(spark, path, e) // steady-state
      new java.io.File(s"$path/assign/seg=9").exists() shouldBe false
      snapshot() shouldBe before

      // compaction: one segment, same rows, same pruned-read layout
      // (stale staging from a crashed predecessor must not break it)
      new java.io.File(path + "__compact_staging").mkdirs()
      SimilarityOps.compactIvfLedger(spark, path)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0)
      snapshot() shouldBe before
      new java.io.File(path + "__compact_backup").exists() shouldBe false
      // appends keep working on the compacted ledger
      SimilarityOps.refreshIvfLedger(spark, path, e)
      snapshot() shouldBe before
      // crash window between the two renames: live gone, backup
      // present — the next compaction call restores it
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + "__compact_backup"))
      SimilarityOps.compactIvfLedger(spark, path)
      snapshot() shouldBe before
      // ...and a REFRESH arriving first must restore too, not
      // bootstrap a forked index over the dangling backup
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + "__compact_backup"))
      SimilarityOps.refreshIvfLedger(spark, path, e)
      snapshot() shouldBe before
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_staging"))
      rm(new java.io.File(path + "__compact_backup"))
    }
  }

  test("S8 ledger single-writer: the compaction lock blocks concurrent " +
      "compaction AND appends; un-bootstrapped stream ingest is refused") {
    import org.apache.spark.sql.functions._
    val path = s"/tmp/graft_state/graft_s8_lock_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      SimilarityOps.refreshIvfLedger(spark, path, e) // 2-segment chain
      // a live compactor holds the lock: a second compactor and an
      // append both refuse loudly instead of racing the swap window
      val lock = new java.io.File(graft.state.SegmentLedger.lockPath(path).toString)
      lock.createNewFile() shouldBe true
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.compactIvfLedger(spark, path)
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.refreshIvfLedger(spark, path, e)
      lock.delete() shouldBe true
      // released: compaction proceeds and removes its own lock
      SimilarityOps.compactIvfLedger(spark, path)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0)
      lock.exists() shouldBe false
      // attaching a stream to an un-bootstrapped ledger is refused
      // (the quantizer would otherwise train on the first micro-batch)
      import spark.implicits._
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])](spark)
      an[IllegalArgumentException] should be thrownBy
        graft.streaming.StreamOps.ingestAnnStream(
          in.toDF.toDF("vec_id", "embedding"), path + "_cold")
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(graft.state.SegmentLedger.lockPath(path).toString))
    }
  }

  test("S8 ledger append lease: an in-flight append blocks the " +
      "compactor and concurrent appends for its WHOLE duration") {
    import org.apache.spark.sql.functions._
    val path = s"/tmp/graft_state/graft_s8_lease_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      SimilarityOps.refreshIvfLedger(spark, path, e) // 2-segment chain
      // an appender mid-flight holds its lease: the entry-time
      // compact-lock check alone would let a compactor that starts
      // DURING the append snapshot the segs and swap the live dir
      // aside, deleting the in-flight segment with the backup — the
      // lease closes that window end-to-end (r16 advisory)
      val lease = new java.io.File(graft.state.SegmentLedger.lockPath(path).toString)
      lease.createNewFile() shouldBe true
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.compactIvfLedger(spark, path)
      // a refused compaction never releases the appender's lock
      lease.exists() shouldBe true
      // concurrent appends (which would race the segment numbering)
      // are serialized by the same lease
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.refreshIvfLedger(spark, path, e)
      lease.delete() shouldBe true
      // append complete: compaction proceeds
      SimilarityOps.compactIvfLedger(spark, path)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0)
      // appends release their lease on success and on refusal
      lease.exists() shouldBe false
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(graft.state.SegmentLedger.lockPath(path).toString))
    }
  }

  test("S10 incremental kNN graph: merged ledger equals the one-pass " +
      "build against the stored quantizer; appends idempotent + batch-sized") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine
    val path = s"/tmp/graft_state/graft_s10_spec_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // bootstrap + two daily batches
      SimilarityOps.refreshKnnLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      SimilarityOps.refreshKnnLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(4)) <= 1))
      SimilarityOps.refreshKnnLedger(spark, path, e)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0, 1, 2)
      // batch-sized appends: each segment holds exactly its batch
      def segIds(k: Int) = spark.read.parquet(s"$path/ids/seg=$k")
        .collect().map(_.getLong(0)).toSet
      val allIds = e.select("vec_id").collect().map(_.getLong(0)).toSet
      segIds(0) shouldBe allIds.filter(_ % 4 == 0)
      segIds(1) shouldBe allIds.filter(_ % 4 == 1)
      segIds(2) shouldBe allIds.filter(i => i % 4 == 2 || i % 4 == 3)
      // idempotent: replaying the full corpus appends nothing
      SimilarityOps.refreshKnnLedger(spark, path, e)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0, 1, 2)

      // reference: the one-pass s9-style graph against the STORED
      // quantizer (the incremental-== -from-scratch contract; a full
      // rebuild would retrain centroids, which is a different index)
      val cents = spark.read.parquet(s"$path/centroids")
      val nprobe = graft.queries.LshTuning.nprobeFor(
        cents.count().toInt, SimilarityOps.nprobeFloor)
      val assign = SimilarityOps.assignNearest(e, cents)
      val probes = SimilarityOps.probeTopAgg(e, cents, nprobe)
      val scored = probes.join(assign, Seq("cid"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cosine", cosine(col("qe"), col("embedding")))
        .select("qid", "vec_id", "cosine")
      val ref = SimilarityOps.topKAgg(scored, SimilarityOps.KG, ordered = true)
        .collect().map(_.toSeq)
      val got = SimilarityOps.s10Graph(spark, path, None)
        .orderBy("qid", "rank").collect().map(_.toSeq)
      got shouldBe ref

      // compaction: one segment, the merged graph row-identical, the
      // whole-ledger swap crash-recoverable, appends keep working
      SimilarityOps.compactKnnLedger(spark, path)
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0)
      SimilarityOps.s10Graph(spark, path, None)
        .orderBy("qid", "rank").collect().map(_.toSeq) shouldBe ref
      new java.io.File(path + "__compact_backup").exists() shouldBe false
      SimilarityOps.refreshKnnLedger(spark, path, e) // idempotent no-op
      SegmentLedger.segments(spark, path, "assign") shouldBe Seq(0)
      // crash window between the two renames: live gone, backup
      // present — a refresh arriving first restores, never forks
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(path),
        new org.apache.hadoop.fs.Path(path + "__compact_backup"))
      SimilarityOps.refreshKnnLedger(spark, path, e)
      SimilarityOps.s10Graph(spark, path, None)
        .orderBy("qid", "rank").collect().map(_.toSeq) shouldBe ref
    } finally {
      rm(new java.io.File(path))
      rm(new java.io.File(path + "__compact_backup"))
      rm(new java.io.File(path + "__compact_staging"))
    }
  }

  test("S11 NN-descent: one round strictly lifts kNN-graph recall over " +
      "the s9 base; the refined graph stays a complete valid top-KG") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "embeddings").select("vec_id", "embedding")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = SimilarityOps.topKAgg(
        e.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cosine", cosine(col("qe"), col("embedding")))
          .select("qid", "vec_id", "cosine"),
        SimilarityOps.KG, ordered = false)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame, idCol: String) =
      df.select(col("qid"), col(idCol)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(truth).size.toDouble / truth.size
    val base = SimilarityOps.knnGraphEdges(spark, TestSpark.sfDir, None)
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
      .localCheckpoint()
    val refined = SimilarityOps
      .nnDescentRound(spark, TestSpark.sfDir, base).localCheckpoint()
    val (rBase, rRef) = (recall(base, "vec_id"), recall(refined, "vec_id"))
    withClue(s"recall base=$rBase refined=$rRef: ") {
      rRef should be > rBase
    }
    // completeness + validity: every vector keeps exactly KG refined
    // edges, each at least as good as its base edge at the same rank
    val n = e.count()
    refined.count() shouldBe n * SimilarityOps.KG
    val worse = refined.as("r")
      .join(base.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("cosine").desc, col("vec_id")))).as("b"),
        col("r.qid") === col("b.qid") && col("r.rank") === col("b.rank"))
      .filter(col("r.cosine") < col("b.cosine") - 1e-12).count()
    worse shouldBe 0 // descent can only improve the rank-i neighbor
  }

  test("IVF recall@10 vs brute force beats its scan fraction") {
    // 500 vectors → 23 cells of ~22 is below the quantizer's regime;
    // the floor here only guards against a broken bucketing.
    // Measured 0.687 (2026-08, size-keyed cells/probes, 1.5·√cells).
    val exact = neighborSets("s1_ann_bruteforce")
    val ivf = neighborSets("s3_ann_ivf")
    val r = recall(ivf, exact)
    info(f"IVF recall@10 at sf0.001 = $r%.3f")
    r should be >= 0.6
  }

  test("IVF recall@10 at sf0.1: trained quantizer meets the measured floor") {
    // Measured 0.663 while scoring 24% of the corpus per query (the
    // size-keyed 45-cell / 11-probe budget, tap-counted) — vs the old
    // fixed 16/4's 25% at recall 0.513; the fraction SHRINKS with n
    // (13% at 10×, see the 10× gate). Floor set under the measurement.
    val dir = "/root/testdata/sf0.1"
    def sets(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir)
        .select("qid", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val r = recall(sets("s3_ann_ivf"), sets("s1_ann_bruteforce"))
    info(f"IVF recall@10 at sf0.1 = $r%.3f")
    r should be >= 0.6
  }

  test("kNN-graph PRODUCTION recall: knnGraphRefined clears 0.8 " +
      "recall@5 at sf0.1") {
    // the r16 standing watch: the one-round s11 curve plateaus at
    // 0.692 because the IVF seed bounds candidate DIVERSITY, not
    // round count. Levers measured head-to-head at sf0.1 (BASELINE
    // §recall-curve r17): 3 rounds at K′=KG → 0.693 (plateau
    // confirmed — rounds alone cannot clear it); K′=2·KG alone →
    // 0.812; nprobe+1 alone → 0.716; combined (the shipped
    // knnGraphRefined defaults) → 0.828. Floor set under the
    // measurement with slack for quantizer seed sensitivity.
    val dir = "/root/testdata/sf0.1"
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding")
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = SimilarityOps.topKAgg(
        e.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cosine", cosine(col("qe"), col("embedding")))
          .select("qid", "vec_id", "cosine"),
        SimilarityOps.KG, ordered = false)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val got = SimilarityOps.knnGraphRefined(spark, dir)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // still a complete valid top-KG graph
    got.keySet shouldBe truth.keySet
    all(got.values.map(_.size)) shouldBe SimilarityOps.KG
    val r = recall(got, truth)
    info(f"refined kNN-graph recall@5 at sf0.1 = $r%.3f")
    r should be >= 0.8
  }

  test("kNN-graph production recall THROUGH THE LEDGER: " +
      "knnGraphRefinedLedger clears 0.8 recall@5 at sf0.1") {
    // the r17-verdict follow-through: the 0.8 floor must be reachable
    // from the MAINTAINED s10 graph, not just the 2·KG-seeded rebuild.
    // The stored base is KG-wide (the ledger's layout); round 1's
    // expansion rebuilds the working width, so the daily cost is
    // O(batch) maintenance + linear descent rounds, never the n^1.5
    // seed rebuild. Measured 0.830 at the shipped defaults, curve
    // 0.624 (ledger seed) → 0.680 → 0.830 (`Bench recall ledger`,
    // r18 — BASELINE §recall-curve); floor shared with the rebuild
    // arm.
    val dir = "/root/testdata/sf0.1"
    val path = s"/tmp/graft_state/graft_s10_recall_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine
    try {
      val e = graft.sources.Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val truth = SimilarityOps.topKAgg(
          e.join(broadcast(q), col("qid") =!= col("vec_id"))
            .withColumn("cosine", cosine(col("qe"), col("embedding")))
            .select("qid", "vec_id", "cosine"),
          SimilarityOps.KG, ordered = false)
        .select("qid", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val got = SimilarityOps.knnGraphRefinedLedger(spark, dir, path)
        .select("qid", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      got.keySet shouldBe truth.keySet
      all(got.values.map(_.size)) shouldBe SimilarityOps.KG
      val r = recall(got, truth)
      info(f"ledger-refined kNN-graph recall@5 at sf0.1 = $r%.3f")
      r should be >= 0.8
    } finally rm(new java.io.File(path))
  }

  test("S9 kNN graph: complete (every vector, exactly KG edges), " +
      "recall vs the exact graph beats its scan fraction") {
    val g = SparkEntry.queries("s9_knn_graph")(spark, TestSpark.sfDir)
      .select("qid", "neighbor_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // exact reference graph: in-memory brute force (500 vectors)
    val vecs = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = vecs.map { case (q, qv) =>
      q -> vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5)
        .map(_._1).toSet
    }.toMap
    // completeness: a kNN GRAPH covers every vector — no query-side
    // sampling anywhere in the plan
    g.keySet shouldBe exact.keySet
    all(g.values.map(_.size)) shouldBe 5
    val r = recall(g, exact)
    info(f"kNN-graph recall@5 at sf0.001 = $r%.3f")
    // same trained quantizer + probe budget as s3's 0.687; the graph
    // side probes with the identical nprobe, so the floor matches
    r should be >= 0.6
  }

  test("LSH recall@10 vs brute force beats random") {
    val exact = neighborSets("s1_ann_bruteforce")
    val lsh = neighborSets("s2_ann_lsh")
    // random top-10 of ~500 vectors would land ≈0.02; the bucketed
    // search must do meaningfully better
    recall(lsh, exact) should be >= 0.3
  }

  test("S5 PQ: codes well-formed, scores bounded, recall beats random") {
    // 8 sub-codes of 6 bits — a 48-bit sketch of a 2048-bit vector; the
    // gate guards the pipeline (training → encode → ADC), not exactness.
    // Measured 0.425 (2026-08 r11, K=64, 4 Lloyd iters, self-matches excluded per the s1 convention; was 0.388 with self-matches burning a slot)
    val codesDf = SparkEntry.queries("s5_ann_pq")(spark, TestSpark.sfDir)
    val top = codesDf.collect()
    val codes = spark.read
      .parquet(s"${graft.sources.VerifyTap.root}/s5_codes")
      .collect()
    val nVecs = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "embeddings").count()
    codes.length shouldBe nVecs
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      cs.length shouldBe 8
      all(cs) should (be >= 0 and be <= 63)
      r.getDouble(2) should be > 0.0 // vnorm
    }
    // ADC cosine approximations stay in a sane band (true cosine ± PQ
    // distortion; the synthetic corpus keeps |cos| well under 1)
    top.foreach(r => math.abs(r.getDouble(3)) should be <= 1.5)

    val exact = neighborSets("s1_ann_bruteforce")
    val pq = neighborSets("s5_ann_pq")
    val r = recall(pq, exact)
    info(f"PQ recall@10 at sf0.001 = $r%.3f")
    // random top-10 of ~500 would land ≈ 0.02; floor under the 0.425
    // measurement
    r should be >= 0.3
  }

  test("S6 two-stage re-rank recovers recall over raw PQ scoring") {
    // exact re-rank of the ADC top-50: recall@10 is bounded by ADC
    // recall@50, so it must land well above raw PQ top-10
    val exact = neighborSets("s1_ann_bruteforce")
    val pq = neighborSets("s5_ann_pq")
    val rr = neighborSets("s6_ann_pq_rerank")
    val rPq = recall(pq, exact)
    val rRr = recall(rr, exact)
    info(f"PQ recall@10 = $rPq%.3f, rerank recall@10 = $rRr%.3f")
    rRr should be > rPq
    rRr should be >= 0.6
    // exactly K candidates survive per query and cosines are exact:
    // every (qid, neighbor) pair's cosine matches s1's where shared
    val s1Cos = SparkEntry.queries("s1_ann_bruteforce")(spark, TestSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    SparkEntry.queries("s6_ann_pq_rerank")(spark, TestSpark.sfDir)
      .collect().foreach { r =>
        val key = (r.getLong(0), r.getLong(2))
        s1Cos.get(key).foreach(_ shouldBe r.getDouble(3))
      }
  }

  test("10× corpus: candidate budgets shrink sub-linearly, recall holds") {
    // The scale gate for the size-keyed index knobs: on a ScaleUp-
    // synthesized 10× embeddings corpus (n = 20 000; rotation preserves
    // within-replica structure exactly, see ScaleUp), the per-query
    // scanned fraction must SHRINK versus sf0.1 — a fixed-parameter
    // index scans a constant fraction forever — while recall stays far
    // above the random-selection baseline (= the scanned fraction).
    // Measured 2026-08: s3 frac 0.242 → 0.127, recall 0.463 (3.6× the
    // 0.127 random baseline); s2 frac 0.235 → 0.039 (b: 4 → 8 bits,
    // L: 4 → 8 via the recall-preserving table rule), recall 0.225
    // (5.8× its baseline — the corpus' cosines top out at ~0.6, LSH's
    // weak regime; at the production c ≥ 0.9 reference the collision
    // curve holds recall ~flat by construction, see SimilarityOps).
    val dir = TestSpark.sf1EmbeddingsDir
    val n = 20000L

    def sets(name: String, d: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, d)
        .select("qid", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def tapRows(tap: String): Long =
      spark.read.parquet(s"${graft.sources.VerifyTap.root}/$tap").count()

    // sf0.1 first (tap files are overwritten per run)
    sets("s3_ann_ivf", "/root/testdata/sf0.1")
    val fracSmall = tapRows("s3_cand").toDouble / 8 / 2000

    val exact = sets("s1_ann_bruteforce", dir)
    val ivf = sets("s3_ann_ivf", dir)
    val fracBig = tapRows("s3_cand").toDouble / 8 / n
    val rIvf = recall(ivf, exact)
    info(f"10×: s3 frac $fracSmall%.3f → $fracBig%.3f, recall $rIvf%.3f")
    fracBig should be < fracSmall * 0.8 // sub-linear, not constant
    fracBig should be < 0.15
    rIvf should be >= 0.4

    val lsh = sets("s2_ann_lsh", dir)
    val candPerQ = tapRows("s2_cand").toDouble / 8
    val rLsh = recall(lsh, exact)
    val tables = SimilarityOps.s2Tables(n)
    info(f"10×: s2 cand/q $candPerQ%.0f ($tables tables), recall $rLsh%.3f")
    // occupancy-keyed width + recall-preserving table growth: candidates
    // stay O(L·occupancy) per query — the fixed 4-bit width would score
    // L·n/16 = 5000/table-set here
    tables should be > 4 // the width grew, so the table count must too
    candPerQ should be <= 2.0 * tables * SimilarityOps.lshTargetBucket
    rLsh should be >= 0.1
  }

  test("S7 range search: every returned pair truly clears the radius, " +
      "cosines are exact, and recall vs the brute-force range set holds") {
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queries = e.keys.filter(_ < 8)
    val exact = queries.map { q =>
      q -> e.keys.filter(v => v != q && cos(e(q), e(v)) >= 0.3).toSet
    }.toMap
    val out = SparkEntry.queries("s7_ann_range_search")(
      spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // soundness: every returned neighbor is a TRUE range member with
    // the exact left-to-right cosine
    out.foreach { case (q, v, c) =>
      withClue(s"($q,$v): ") {
        exact(q) should contain(v)
        c shouldBe cos(e(q), e(v)) +- 1e-12
      }
    }
    // recall: the LSH candidate stage surfaces most true range members
    val got = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nonEmpty = exact.filter(_._2.nonEmpty)
    val r = recall(nonEmpty.keys.map(q =>
      q -> got.getOrElse(q, Set.empty[Long])).toMap, nonEmpty)
    // 0.40 measured — exactly the hyperplane collision curve's value
    // at this corpus's weak r = 0.3 radius (per-table p = (1−acos(0.3)/π)⁴
    // ≈ 0.127, miss over 4 tables ≈ 0.58 → predicted recall ≈ 0.42; at a
    // production r = 0.9 radius the same scheme predicts ≈ 0.96). LSH's
    // documented low-similarity weak spot, same as the s2/d8 notes.
    info(f"range-search recall at sf0.001 = $r%.3f")
    r should be >= 0.35
  }

  test("S12 filtered ANN: every neighbor satisfies the predicate, " +
      "cosines exact, recall floored vs the filtered brute force") {
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val allowed = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") ===
        SimilarityOps.s12Lang)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val out = SparkEntry.queries("s12_ann_filtered")(
      spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out should not be empty
    // soundness: predicate holds, self excluded, cosine exact
    out.foreach { case (q, _, v, c) =>
      withClue(s"($q,$v): ") {
        allowed should contain(v)
        v should not be q
        c shouldBe cos(e(q), e(v)) +- 1e-12
      }
    }
    // recall vs the predicate-filtered exact top-k (brute force over
    // allowed docs only). The candidate set is the s8 probe's, so the
    // floor tracks the IVF recall floor — filtering only ever REMOVES
    // competitors, never true neighbors the probe already surfaced.
    val queries = e.keys.filter(_ < 8).toSeq
    val exact = queries.map { q =>
      q -> e.keys.filter(v => v != q && allowed.contains(v)).toSeq
        .sortBy(v => (-cos(e(q), e(v)), v)).take(10).toSet
    }.toMap
    val got = out.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val r = recall(queries.map(q =>
      q -> got.getOrElse(q, Set.empty[Long])).toMap, exact)
    info(f"filtered-ANN recall at sf0.001 = $r%.3f")
    r should be >= 0.5
  }

  test("S12 filtered ANN under a HIGHLY SELECTIVE predicate: nprobe " +
      "escalation recovers recall, and the full probe budget is EXACT") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.cosine
    // own ledger (the shared s8 one belongs to the driver queries)
    val path = SimilarityOps.s8LedgerPath(TestSpark.sfDir) + "_selspec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshIvfLedger(spark, path, e)
      val cells = spark.read.parquet(s"$path/centroids").count().toInt
      val q = e.filter(col("vec_id") < 8).localCheckpoint()
      // selective predicate: ~2% of the corpus is allowed
      val m = 50L
      def recallAt(boost: Int): Double = {
        val truth = SimilarityOps.topKAgg(
            e.filter(pmod(col("vec_id"), lit(m)) === 0)
              .join(broadcast(q.select(col("vec_id").as("qid"),
                col("embedding").as("qe"))),
                col("qid") =!= col("vec_id"))
              .withColumn("cosine", cosine(col("qe"), col("embedding")))
              .select("qid", "vec_id", "cosine"))
          .select("qid", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = SimilarityOps.topKAgg(
            SimilarityOps.s8Probe(spark, path, q, boost)
              .filter(pmod(col("vec_id"), lit(m)) === 0)
              .withColumn("cosine", cosine(col("qe"), col("embedding")))
              .select("qid", "vec_id", "cosine"))
          .select("qid", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(truth).size.toDouble / truth.size
      }
      val base = recallAt(0)
      val boosted = recallAt(2)
      val full = recallAt(cells)
      info(f"selective-predicate recall: base=$base%.3f " +
        f"boost2=$boosted%.3f full=$full%.3f (cells=$cells)")
      // escalation never hurts, and the full budget is EXACT by
      // construction (every cell probed ⇒ every allowed vector scored)
      boosted should be >= base
      full should be >= boosted
      full shouldBe 1.0
    } finally {
      rm(new java.io.File(path))
    }
  }

  test("S13 tombstoned ANN: takedowns never surface, replay appends " +
      "nothing, torn tomb segments invisible, compaction purges " +
      "physically and equals the excluded read") {
    import org.apache.spark.sql.functions.{broadcast, col}
    // the driver-shaped query on the shared ledger: no tombstoned id
    // in any result, results non-empty
    val out = SparkEntry.queries("s13_ann_tombstoned")(
      spark, TestSpark.sfDir).collect()
    out should not be empty
    out.foreach { r =>
      (r.getLong(2) % SimilarityOps.s13Mod) should not be 3L
    }
    // replay idempotency on the shared ledger: same tombstone set →
    // no new tomb segment, identical output
    val path = SimilarityOps.s8LedgerPath(TestSpark.sfDir)
    val segsBefore = new java.io.File(s"$path/commits").list().sorted
    SparkEntry.queries("s13_ann_tombstoned")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq shouldBe out.map(_.toSeq).toSeq
    new java.io.File(s"$path/commits").list().sorted shouldBe
      segsBefore

    // dedicated temp ledger for the state-machine checks
    val tpath = s"/tmp/graft_state/graft_s13_spec_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshIvfLedger(spark, tpath, e)
      val dead = e.filter(col("vec_id") % 7 === 1).select("vec_id")
      SimilarityOps.tombstoneIds(spark, tpath, dead)
      val nDead = dead.count()
      SimilarityOps.s8Tombs(spark, tpath).count() shouldBe nDead
      // a TORN tombstone segment (dir, no marker) is invisible
      new java.io.File(s"$tpath/tombs/seg=9").mkdirs()
      SimilarityOps.s8Tombs(spark, tpath).count() shouldBe nDead
      // the excluded read before compaction
      val q = e.filter(col("vec_id") < 8)
      def probeLive() = SimilarityOps.s8Probe(spark, tpath, q)
        .join(broadcast(SimilarityOps.s8Tombs(spark, tpath)),
          Seq("vec_id"), "left_anti")
        .select("qid", "vec_id").collect().map(_.toSeq)
        .sortBy(_.toString)
      val before = probeLive()
      // compaction applies tombstones PHYSICALLY: rows gone from the
      // index, tombs cleared, and the read (now trivially excluded)
      // equals the pre-compaction excluded read
      SimilarityOps.compactIvfLedger(spark, tpath)
      SimilarityOps.s8Tombs(spark, tpath).count() shouldBe 0L
      SimilarityOps.s8Assign(spark, tpath, None)
        .filter(col("vec_id") % 7 === 1).count() shouldBe 0L
      probeLive() shouldBe before
      // writer guards: a takedown REFUSES while a compaction holds its
      // lock (a tombstone committed into the rename-aside window would
      // be deleted un-applied — a lost takedown)...
      val lockF = new java.io.File(graft.state.SegmentLedger.lockPath(tpath).toString)
      lockF.createNewFile() shouldBe true
      val deadOne = e.filter(col("vec_id") === 0).select("vec_id")
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.tombstoneIds(spark, tpath, deadOne)
      lockF.delete() shouldBe true
      // ...and restores a crashed compaction's backup before writing
      // (a write into the empty live path would fork the index)
      val fs = new org.apache.hadoop.fs.Path(tpath).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(tpath),
        new org.apache.hadoop.fs.Path(tpath + "__compact_backup"))
      SimilarityOps.tombstoneIds(spark, tpath, deadOne)
      SegmentLedger.segments(spark, tpath, "assign") should not be empty
      SimilarityOps.s8Tombs(spark, tpath).collect()
        .map(_.getLong(0)).toSet shouldBe Set(0L)
    } finally {
      rm(new java.io.File(tpath))
      rm(new java.io.File(tpath + "__compact_staging"))
      rm(new java.io.File(tpath + "__compact_backup"))
    }
  }

  test("S9 tap arms: the size-keyed tap-route and side-effect arms " +
      "produce identical edges and identical oracle candidate sets") {
    // the r19 tap-arm decision (BASELINE §sf10 r19) keys the
    // oracle-tap arm on corpus size; whichever arm runs, the build's
    // output and the tap the oracle reads must be the same
    val a = SimilarityOps.knnGraphEdges(spark, TestSpark.sfDir,
        Some("s9arm_route"), forceTapRoute = Some(true))
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val b = SimilarityOps.knnGraphEdges(spark, TestSpark.sfDir,
        Some("s9arm_side"), forceTapRoute = Some(false))
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    a shouldBe b
    def tapIds(name: String) = spark.read
      .parquet(s"${graft.sources.VerifyTap.root}/$name")
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    tapIds("s9arm_route") shouldBe tapIds("s9arm_side")
  }

  test("S8 quantizer retrain migration: retrained ledger equals a " +
      "from-scratch bootstrap on the same corpus, re-keys cells to the " +
      "grown size, applies tombstones, and crash windows recover") {
    import org.apache.spark.sql.functions._
    val base = s"/tmp/graft_state/graft_retrain_spec_${java.util.UUID
      .randomUUID().toString.take(8)}"
    val grown = s"${base}_grown"
    val fresh = s"${base}_fresh"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // a ledger that GREW 4x since bootstrap: its cells are keyed to
      // the bootstrap-time quarter, stale for the standing corpus
      SimilarityOps.refreshIvfLedger(spark, grown,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      SimilarityOps.refreshIvfLedger(spark, grown, e)
      val cellsBefore = spark.read.parquet(s"$grown/centroids").count()
      // a takedown lands before the retrain — the rewrite must apply it
      val dead = e.filter(pmod(col("vec_id"), lit(29)) === 2)
        .select("vec_id")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      SimilarityOps.tombstoneIds(spark, grown, dead)
      SimilarityOps.retrainIvfLedger(spark, grown)
      // cells re-keyed to the CURRENT corpus size
      val cellsAfter = spark.read.parquet(s"$grown/centroids").count()
      cellsAfter should be > cellsBefore
      // retrained ≡ from-scratch bootstrap over the same alive corpus
      SimilarityOps.refreshIvfLedger(spark, fresh,
        e.filter(!col("vec_id").isin(deadIds.toSeq: _*)))
      def cents(p: String) = spark.read.parquet(s"$p/centroids")
        .collect().map(_.toSeq).sortBy(_.toString)
      def assigns(p: String) = SimilarityOps.s8Assign(spark, p, None)
        .select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      cents(grown) shouldBe cents(fresh)
      assigns(grown) shouldBe assigns(fresh)
      // tombstones applied physically, chain cleared
      SimilarityOps.s8Tombs(spark, grown).count() shouldBe 0L
      assigns(grown).map(_._1).toSet
        .intersect(deadIds) shouldBe Set.empty
      // readers through the flip: the probe plans against the NEW
      // quantizer and returns valid rows; the quantizer seam (c1l/c2l)
      // reads the new centroids
      val probe = SimilarityOps.s8Probe(spark, grown,
        e.filter(col("vec_id") < 8))
      probe.count() should be > 0L
      SimilarityOps.quantizerCentroids(spark, TestSpark.sfDir,
        SimilarityOps.StoredQuantizer(grown)).count() shouldBe cellsAfter
      // appends keep working after the migration (novelty against the
      // retrained ids: everything known, nothing appended)
      SimilarityOps.refreshIvfLedger(spark, grown,
        e.filter(!col("vec_id").isin(deadIds.toSeq: _*)))
      SegmentLedger.segments(spark, grown, "assign") shouldBe Seq(0)
      // crash window between the two renames: live gone, backup
      // present — the next retrain restores and completes
      val fs = new org.apache.hadoop.fs.Path(grown).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(grown),
        new org.apache.hadoop.fs.Path(grown + "__compact_backup"))
      SimilarityOps.retrainIvfLedger(spark, grown)
      assigns(grown) shouldBe assigns(fresh)
      // single-writer: the shared compaction lock refuses a retrain
      val lockF = new java.io.File(graft.state.SegmentLedger.lockPath(grown).toString)
      lockF.createNewFile() shouldBe true
      an[IllegalArgumentException] should be thrownBy
        SimilarityOps.retrainIvfLedger(spark, grown)
      lockF.delete() shouldBe true
    } finally {
      Seq(grown, fresh).foreach { p =>
        rm(new java.io.File(p))
        rm(new java.io.File(p + "__compact_staging"))
        rm(new java.io.File(p + "__compact_backup"))
      }
    }
  }

  test("S10 graph-ledger retrain migration: retrained graph equals a " +
      "from-scratch bootstrap over the alive corpus; readers flip " +
      "atomically; crash window recovers") {
    import org.apache.spark.sql.functions._
    val base = s"/tmp/graft_state/graft_knn_retrain_${java.util.UUID
      .randomUUID().toString.take(8)}"
    val grown = s"${base}_grown"
    val fresh = s"${base}_fresh"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      // grown ledger: bootstrap on a quarter, append the rest; then a
      // takedown the retrain must apply
      SimilarityOps.refreshKnnLedger(spark, grown,
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      SimilarityOps.refreshKnnLedger(spark, grown, e)
      val dead = e.filter(pmod(col("vec_id"), lit(31)) === 5)
        .select("vec_id")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      SimilarityOps.tombstoneIds(spark, grown, dead)
      val cellsBefore = spark.read.parquet(s"$grown/centroids").count()
      SimilarityOps.retrainKnnLedger(spark, grown)
      spark.read.parquet(s"$grown/centroids")
        .count() should be > cellsBefore // re-keyed to the grown size
      // reference: a fresh bootstrap over the same alive corpus
      SimilarityOps.refreshKnnLedger(spark, fresh,
        e.filter(!col("vec_id").isin(deadIds.toSeq: _*)))
      def graph(p: String) = SimilarityOps.s10Graph(spark, p, None)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
      graph(grown) shouldBe graph(fresh)
      // tombstones applied + cleared; dead ids gone everywhere
      SimilarityOps.s8Tombs(spark, grown).count() shouldBe 0L
      graph(grown).map(_.head.asInstanceOf[Long]).toSet
        .intersect(deadIds) shouldBe Set.empty
      // appends keep working (all alive ids known → no-op)
      SimilarityOps.refreshKnnLedger(spark, grown,
        e.filter(!col("vec_id").isin(deadIds.toSeq: _*)))
      SegmentLedger.segments(spark, grown, "assign") shouldBe Seq(0)
      // crash window between the renames recovers on the next retrain
      val fs = new org.apache.hadoop.fs.Path(grown).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.rename(new org.apache.hadoop.fs.Path(grown),
        new org.apache.hadoop.fs.Path(grown + "__compact_backup"))
      SimilarityOps.retrainKnnLedger(spark, grown)
      graph(grown) shouldBe graph(fresh)
    } finally {
      Seq(grown, fresh).foreach { p =>
        rm(new java.io.File(p))
        rm(new java.io.File(p + "__compact_staging"))
        rm(new java.io.File(p + "__compact_backup"))
      }
    }
  }

  test("S14 graph tombstones: takedowns vanish as qid AND neighbor, " +
      "replay appends nothing, the seam honors deletes, compaction " +
      "purges physically and REPAIRS decayed neighborhoods to the floor") {
    import org.apache.spark.sql.functions.col
    // the driver-shaped query: no tombstoned id on EITHER side
    val out = SparkEntry.queries("s14_knn_tombstoned")(
      spark, TestSpark.sfDir).collect()
    out should not be empty
    out.foreach { r =>
      (r.getLong(0) % SimilarityOps.s13Mod) should not be 3L // qid
      (r.getLong(2) % SimilarityOps.s13Mod) should not be 3L // neighbor
    }
    // replay idempotency: same output, no new tomb segment
    val dpath = SimilarityOps.s14LedgerPath(TestSpark.sfDir)
    val segsBefore = new java.io.File(s"$dpath/commits").list().sorted
    SparkEntry.queries("s14_knn_tombstoned")(spark, TestSpark.sfDir)
      .collect().map(_.toSeq).toSeq shouldBe out.map(_.toSeq).toSeq
    new java.io.File(s"$dpath/commits").list().sorted shouldBe
      segsBefore

    // dedicated temp ledger: ONE bootstrap segment, so the stored
    // union holds exactly KG edges per vertex and every vertex that
    // lost a neighbor is genuinely under-KG until repaired
    val tpath = s"/tmp/graft_state/graft_s14_spec_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshKnnLedger(spark, tpath, e)
      val dead = e.filter(col("vec_id") % 7 === 1).select("vec_id")
      val deadIds = dead.collect().map(_.getLong(0)).toSet
      SimilarityOps.tombstoneIds(spark, tpath, dead)
      def graphRows(path: String) =
        SimilarityOps.s10Graph(spark, path, None)
          .select("qid", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      // the excluding read: neither side surfaces a takedown
      val decayed = graphRows(tpath)
      decayed.foreach { case (q, n) =>
        deadIds should not contain q
        deadIds should not contain n
      }
      // decay is real: some alive vertex sits under KG edges
      val decayedCounts = decayed.groupBy(_._1).view.mapValues(_.length)
      val underKg = decayedCounts.filter(_._2 < SimilarityOps.KG).keys.toSet
      underKg should not be empty
      // the SEAM honors deletes (d15l/s11l/p4 all read through it)
      SimilarityOps.knnGraph(spark, TestSpark.sfDir, None,
          SimilarityOps.LedgerGraph(tpath))
        .select("qid", "neighbor_id").collect().foreach { r =>
          deadIds should not contain r.getLong(0)
          deadIds should not contain r.getLong(1)
        }
      // exact top-KG graph over the ALIVE corpus (in-memory reference)
      val alive = e.filter(!col("vec_id").isin(deadIds.toSeq: _*))
      val vecs = alive.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1 }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val exact: Map[Long, Set[Long]] = vecs.map { case (q, qe) =>
        q -> vecs.toSeq.filter(_._1 != q)
          .map { case (v, ve) => (v, cos(qe, ve)) }
          .sortBy { case (v, c) => (-c, v) }
          .take(SimilarityOps.KG).map(_._1).toSet
      }
      def recallOf(rows: Array[(Long, Long)]): Double = {
        val g = rows.groupBy(_._1).view
          .mapValues(_.map(_._2).toSet).toMap
        val hits = exact.keys.toSeq.map { q =>
          g.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble /
            exact(q).size }
        hits.sum / hits.size
      }
      val decayedRecall = recallOf(decayed)
      // compaction purges physically on EVERY dir and repairs
      SimilarityOps.compactKnnLedger(spark, tpath)
      SimilarityOps.s8Tombs(spark, tpath).count() shouldBe 0L
      spark.read.parquet(s"$tpath/assign/seg=0")
        .filter(col("vec_id").isin(deadIds.toSeq: _*))
        .count() shouldBe 0L
      spark.read.parquet(s"$tpath/ids/seg=0")
        .filter(col("vec_id").isin(deadIds.toSeq: _*))
        .count() shouldBe 0L
      spark.read.parquet(s"$tpath/probes/seg=0")
        .filter(col("qid").isin(deadIds.toSeq: _*))
        .count() shouldBe 0L
      val repaired = graphRows(tpath)
      repaired.foreach { case (q, n) =>
        deadIds should not contain q
        deadIds should not contain n // repair never resurrects
      }
      // every decayed neighborhood refilled to exactly KG edges
      val repairedCounts = repaired.groupBy(_._1).view
        .mapValues(_.length).toMap
      underKg.foreach { q => repairedCounts(q) shouldBe SimilarityOps.KG }
      // non-affected vertices untouched by the repair re-rank
      val decayedByQ = decayed.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      decayedByQ.keys.filterNot(underKg).foreach { q =>
        repaired.filter(_._1 == q).map(_._2).toSet shouldBe decayedByQ(q)
      }
      // repair restores recall: monotone over the decayed read, and
      // the repaired ledger clears the s9-class floor vs the exact
      // alive graph
      val repairedRecall = recallOf(repaired)
      repairedRecall should be >= decayedRecall
      repairedRecall should be >= 0.6
      // post-compaction, a RE-SUBMISSION of reclaimed content is
      // novel again (the ids sidecar was purged): it re-indexes
      SimilarityOps.refreshKnnLedger(spark, tpath, e)
      SegmentLedger.segments(spark, tpath, "assign") shouldBe Seq(0, 1)
      graphRows(tpath).map(_._1).toSet
        .intersect(deadIds) should not be empty
    } finally {
      rm(new java.io.File(tpath))
      rm(new java.io.File(tpath + "__compact_staging"))
      rm(new java.io.File(tpath + "__compact_backup"))
    }
  }

  test("T25 embedding decontamination: every flagged pair truly clears " +
      "the radius on exact cosines; eval suite never flags itself; " +
      "the pipeline seam drops exactly the flagged docs") {
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val out = SparkEntry.queries("t25_embedding_decontam")(
      spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out should not be empty
    val mod = SimilarityOps.decontamMod
    out.foreach { case (doc, ev, c) =>
      withClue(s"($doc,$ev): ") {
        (ev % mod) shouldBe 0L      // the flag source is the holdout
        (doc % mod) should not be 0L // corpus side excludes the suite
        c should be >= SimilarityOps.decontamR
        c shouldBe cos(e(ev), e(doc)) +- 1e-12
      }
    }
    // seam: applying the flags to a doc_id-keyed corpus drops exactly
    // the flagged ids (the t6-style anti-join composition p3 uses)
    val corpus = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "documents").select("doc_id")
    val pairs = SparkEntry.queries("t25_embedding_decontam")(
      spark, TestSpark.sfDir)
    val kept = TextOps.applyDecontam(corpus, pairs)
      .collect().map(_.getLong(0)).toSet
    val flagged = out.map(_._1).toSet
    val all = corpus.collect().map(_.getLong(0)).toSet
    kept shouldBe (all -- flagged)
  }

  test("S10 probes layout: bootstrap + append + compaction store " +
      "(qid, cid) probes; a probes segment that also stores qe reads " +
      "row-identical") {
    // the probes layout (BASELINE §r17 probes-storage, §r28): probes
    // store (qid, cid) only — qe re-derives at append time from the
    // ledger's own assign rows. A probes segment that also stores qe
    // (the layout of ledgers written before it) must append and
    // compact to the same merged graph: every read projects probes
    // to (qid, cid).
    import org.apache.spark.sql.functions._
    val suffix = java.util.UUID.randomUUID().toString.take(8)
    val slim = s"/tmp/graft_state/graft_s10_spec_slim_$suffix"
    val fat = s"/tmp/graft_state/graft_s10_spec_fat_$suffix"
    val tmp = s"/tmp/graft_state/graft_s10_spec_tmp_$suffix"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    def cols(p: String, seg: Int) =
      spark.read.parquet(s"$p/probes/seg=$seg").columns.toSeq
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      val boot = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
      SimilarityOps.refreshKnnLedger(spark, slim, boot)
      cols(slim, 0) shouldNot contain("qe")
      // the twin: the same bootstrap with qe stored on its probes
      val fs = new org.apache.hadoop.fs.Path(slim)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(
        slim), fs, new org.apache.hadoop.fs.Path(fat), false, fs.getConf)
      graft.state.SegmentLedger.write(
        spark.read.parquet(s"$fat/probes/seg=0").join(
          spark.read.parquet(s"$fat/assign/seg=0")
            .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          Seq("qid")), tmp, "probes", 0, Some("cid"))
      rm(new java.io.File(s"$fat/probes/seg=0"))
      new java.io.File(s"$tmp/probes/seg=0")
        .renameTo(new java.io.File(s"$fat/probes/seg=0")) shouldBe true
      cols(fat, 0) should contain("qe")
      // same daily batch appended to both
      SimilarityOps.refreshKnnLedger(spark, slim, e)
      SimilarityOps.refreshKnnLedger(spark, fat, e)
      cols(slim, 1) shouldNot contain("qe")
      cols(fat, 1) shouldNot contain("qe")
      def graphOf(p: String) = SimilarityOps.s10Graph(spark, p, None)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
      val ref = graphOf(slim)
      ref.size should be > 0
      graphOf(fat) shouldBe ref
      // compaction folds both into (qid, cid) probes and the same rows
      Seq(slim, fat).foreach { p =>
        SimilarityOps.compactKnnLedger(spark, p)
        cols(p, 0) shouldNot contain("qe")
        graphOf(p) shouldBe ref
      }
    } finally Seq(slim, fat, tmp).foreach(p => rm(new java.io.File(p)))
  }
}
