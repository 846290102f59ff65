package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.TestSpark

/** Cross-operator consistency on sf0.001: the sketch-based dedup paths
  * (MinHash-LSH, SimHash) must agree with the exact Jaccard join on
  * strong near-dups, and cluster assignment must respect the pair graph.
  * These semantic gates cover the rows-only operators that have no
  * DuckDB oracle.
  */
class DedupConsistencySpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)

  private lazy val exactPairs: Map[(Long, Long), Double] =
    run("d2_dedup_ngram_jaccard").select("i", "j", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("exact Jaccard finds the planted near-dups") {
    exactPairs.size should be >= 20
    all(exactPairs.values) should be >= 0.8
  }

  test("minhash-LSH recovers every strong (J ≥ 0.9) exact pair") {
    // at J ≥ 0.9 a 16-band×4-row LSH misses with prob (1-J⁴)¹⁶ < 1e-8
    val lsh = run("d3_dedup_minhash_lsh").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val strong = exactPairs.filter(_._2 >= 0.9).keySet
    strong.diff(lsh) shouldBe empty
  }

  test("packed simhash signatures equal the unpacked ±1-vote formulation") {
    import org.apache.spark.sql.functions._
    // mirror DedupOps.shingled's hash-combined gram keys
    val sh = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        transform(split(col("text"), " "), w => xxhash64(w)).as("wh"))
      .select(col("doc_id"), explode(array_sort(array_distinct(
        when(org.apache.spark.sql.functions.size(col("wh")) >= 3,
          transform(sequence(lit(1),
            org.apache.spark.sql.functions.size(col("wh")) - 2),
            i => xxhash64(element_at(col("wh"), i),
              element_at(col("wh"), i + 1),
              element_at(col("wh"), i + 2))))
          .otherwise(array().cast("array<bigint>"))))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    // reference: the original 64 branchy ±1-vote sums
    val votes = sh.groupBy("doc_id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as("v0"),
      (1 until 64).map(b =>
        sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"v$b")): _*)
    val refSig = (0 until 64).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    val ref = votes.select(col("doc_id"), refSig.as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = graft.queries.DedupOps.simhashSigs(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    packed shouldBe ref
  }

  test("simhash candidates are real near-dups (precision gate)") {
    val sim = run("d4_dedup_simhash").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    sim should not be empty
    // hamming ≤ 7 on 64-bit sketches of ~50-shingle docs ⇒ the pair
    // should also be an exact near-dup (allow a small false-pos margin)
    val falsePos = sim.count(p => !exactPairs.contains(p))
    falsePos.toDouble / sim.size should be <= 0.2
  }

  test("d8 bucketed embedding dedup: recall vs exact d5, bounded candidates") {
    val exact = run("d5_dedup_embedding").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("d8_dedup_embedding_lsh").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every d8 pair is a true d5 pair (exact verify ⇒ perfect precision)
    lsh.subsetOf(exact) shouldBe true
    // recall in LSH's weak low-threshold regime: theory predicts 0.75
    // for b=4, L=8 at this corpus' similarity range
    lsh.size.toDouble / exact.size should be >= 0.6
    // candidate volume stays bounded under all-pairs (theory: 0.40)
    val n = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "embeddings").count()
    val cands = spark.read
      .parquet(s"${graft.sources.VerifyTap.root}/d8_cand").count()
    cands.toDouble / (n * (n - 1) / 2) should be <= 0.5
  }

  test("d10 LSH semantic clusters refine the exact clustering, with recall") {
    def coClustered(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] = {
      val byCluster = rows.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values
      byCluster.flatMap { members =>
        val ids = members.map(_._1).toSeq.sorted
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
    }
    val lsh = coClustered(
      run("d10_dedup_semantic_clusters").select("vec_id", "cluster").collect())
    val exact = coClustered(
      graft.queries.DedupOps.exactSemanticClusters(spark, TestSpark.sfDir)
        .select("vec_id", "cluster").collect())
    // LSH edges ⊆ exact edges, so LSH clusters REFINE the exact ones:
    // every co-clustered LSH pair must be exactly co-clustered too
    lsh.subsetOf(exact) shouldBe true
    // cluster-level recall: co-clustered relationships preserved (same
    // b=4, L=8 regime as the d8 pair-recall gate)
    exact should not be empty
    lsh.size.toDouble / exact.size should be >= 0.6
  }

  test("q11 approximate distincts stay within the promised error bound") {
    // output: (o_orderstatus, exact_custs, n, approx_ok)
    val rows = run("q11_approx_count_distinct").collect()
    rows should not be empty
    // the in-plan HLL++ bound flag holds for every group
    rows.foreach(r => withClue(r.getString(0)) { r.getLong(3) shouldBe 1L })
    // and the exact side matches an independent computation
    val e = graft.sources.Tables.load(spark, TestSpark.sfDir, "orders")
    val exact = e.groupBy("o_orderstatus")
      .agg(org.apache.spark.sql.functions.countDistinct("o_custkey").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe exact
  }

  test("q37 sketch percentiles stay within the GK rank-error bound") {
    // output: (o_orderpriority, n, p50_ok, p90_ok)
    val rows = run("q37_approx_percentiles").collect()
    rows should not be empty
    rows.foreach { r =>
      withClue(r.getString(0)) {
        r.getLong(2) shouldBe 1L
        r.getLong(3) shouldBe 1L
      }
    }
    // independent deep check: recompute the sketch off-plan and measure
    // its rank error against the fully sorted group
    import org.apache.spark.sql.functions._
    val o = graft.sources.Tables.load(spark, TestSpark.sfDir, "orders")
    val sk = o.groupBy("o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(5000))
        .as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(5000))
          .as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
    sk.foreach { case (prio, (p50, p90)) =>
      val grp = o.filter(col("o_orderpriority") === prio)
        .select("o_totalprice").collect().map(_.getDouble(0)).sorted
      val n = grp.length
      val tol = math.max(1, (2.0 * n / 5000).ceil.toInt)
      def rankOf(v: Double): Int = grp.count(_ <= v)
      math.abs(rankOf(p50) - 0.5 * n) should be <= (tol + 1).toDouble * 2
      math.abs(rankOf(p90) - 0.9 * n) should be <= (tol + 1).toDouble * 2
    }
  }

  test("d8 at 10×: recall vs rotation-derived exact pairs, L grows with b") {
    // Known-true ground truth without an n² job: ScaleUp's cyclic
    // rotation is an orthogonal transform, so every sf0.1 exact pair
    // reappears in each replica under the +r·10⁹ key shift — a
    // SUBSET of the true 10× pair set (incidental cross-replica pairs
    // above the low 0.4 threshold also exist in 16 dims; d8's exact
    // cosine verify makes every reported pair true by construction,
    // so precision needs no oracle here). Recall is measured against
    // the within-replica subset. At n = 20 000 the occupancy-keyed
    // width is b = 8 and the recall-preserving rule raises L: 8 → 15;
    // the collision curve predicts recall 1−(1−p⁸)¹⁵ ≈ 0.32 at
    // c = 0.4 / 0.61 at c = 0.6 (vs 0.18/0.38 had L stayed 8), and
    // ~0.94 at the c ≥ 0.9 production threshold at ANY size — the
    // property the rule pins. Measured 2026-08: 0.349 (the corpus'
    // pairs concentrate at the weak 0.4–0.5 end).
    DedupOps.d8TablesFor(DedupOps.d8BitsFor(20000L)) should be > 8
    val exactSmall = SparkEntry.queries("d5_dedup_embedding")(
        spark, "/root/testdata/sf0.1")
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exactBig = (for {
      r <- 0 until 10; (i, j) <- exactSmall
    } yield (i + r * 1000000000L, j + r * 1000000000L)).toSet
    val lsh = SparkEntry.queries("d8_dedup_embedding_lsh")(
        spark, TestSpark.sf1EmbeddingsDir)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = lsh.intersect(exactBig).size.toDouble / exactBig.size
    info(f"d8 recall at 10× (b=8, L=15) = $recall%.3f")
    recall should be >= 0.3
  }

  test("d3 on a dup-heavy corpus: mass-identical docs pair exactly") {
    // the dedup-corpus shape the driver SFs never exercise: large
    // groups of byte-identical documents. d3's banding runs over
    // unique shingle sets, so within-group pairs come from the
    // identity expansion — they must ALL appear at jaccard 1.0, and
    // strong near-dups must still be surfaced.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = (1L to 40L).map { i =>
      val text = i match {
        case x if x <= 10 => base                  // 10 identical docs
        // last word differs ⇒ exactly one 3-gram shingle changes:
        // J = 17/19 ≈ 0.895, inside the banding's certain-recall zone
        case 11 => base.replace("upsilon", "upsilon2")
        case _ => s"doc $i " + (1 to 20).map(k => s"w${i}_$k").mkString(" ")
      }
      (i, text)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_d3dup").toString
    rows.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("d3_dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val within = out.filter { case (i, j, _) => i <= 10 && j <= 10 }
    within.length shouldBe 45 // C(10,2)
    all(within.map(_._3)) shouldBe 1.0
    // the planted near-dup pairs with every identical-group member
    // (J well above the 16x4 banding's ~certain-recall zone)
    out.count { case (i, j, _) => j == 11 && i <= 10 } shouldBe 10
  }

  test("d9 cold start: a pre-existing ledger on disk bootstraps cleanly") {
    // The r5 driver failure: ledger persisted under one session, next
    // (fresh) session's catalog has forgotten it while the directory
    // survives on disk → saveAsTable died with LOCATION_ALREADY_EXISTS.
    // The path-keyed ledger makes DISK the only state, so re-running
    // the query over an already-populated ledger dir (what every fresh
    // session sees) is exactly the merge path exercised here.
    def collectD9(dir: String) =
      SparkEntry.queries("d9_dedup_incremental")(spark, dir)
        .collect().map(_.toSeq).toSeq
    val path = DedupOps.d9LedgerPath(TestSpark.sfDir)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    rm(new java.io.File(path))
    val bootstrap = collectD9(TestSpark.sfDir) // creates the ledger
    new java.io.File(path).exists() shouldBe true
    val warm = collectD9(TestSpark.sfDir)      // merges into it
    warm shouldBe bootstrap
    bootstrap.size should be > 0
  }

  test("d9 ledger maintenance is append-only: steady state rewrites nothing") {
    // The r6 plan re-read + distinct'd + OVERWROTE the whole ledger on
    // every ingest — an O(corpus) write per daily batch at 100 TB. The
    // append-only path must leave the standing files untouched when the
    // incoming hashes are already ledgered (the steady state of every
    // re-ingest), proving maintenance cost is O(novel), not O(corpus).
    def runD9() = SparkEntry.queries("d9_dedup_incremental")(
      spark, TestSpark.sfDir).collect()
    runD9() // bootstrap (or steady-state, if an earlier test ledgered)
    val dir = new java.io.File(DedupOps.d9LedgerPath(TestSpark.sfDir))
    // the ledger's segments are hash-prefix partitioned (pfx=X
    // subdirs) — walk them
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def snapshot() = walk(dir)
      .filter(_.getName.startsWith("part-"))
      .map(f => (f.getPath, f.lastModified, f.length)).sortBy(_._1)
    val before = snapshot()
    before.size should be > 0
    runD9() // steady state: every incoming hash is already present
    snapshot() shouldBe before
  }

  test("ledger compaction: a many-append chain bin-packs to one file " +
      "per partition, read-equivalent, layout + crash recovery intact") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    val path = s"$root/ledger_p1"
    // 12 disjoint hash batches appended one by one — the d9 shape
    // (pfx-partitioned segments), each append leaving file fragments
    val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
        "documents")
      .select(md5(col("text")).as("content_hash")).distinct()
      .withColumn("b", pmod(xxhash64(col("content_hash")), lit(12)))
      .localCheckpoint()
    (0 until 12).foreach { i =>
      DedupOps.refreshLedger(spark, path,
        docs.filter(col("b") === i).select("content_hash"))
    }
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def filesPerPfx() = walk(new java.io.File(path))
      .filter(_.getName.startsWith("part-"))
      .groupBy(_.getParentFile.getName).map { case (d, fs) =>
        d -> fs.size }
    filesPerPfx().keys.foreach(_ should startWith ("pfx="))
    filesPerPfx().values.max should be > 1 // the append-chain tax
    def snapshot() = DedupOps.readHashLedger(spark, path)
      .collect().map(_.toSeq).sortBy(_.toString)
    val before = snapshot()
    before.length should be > 0
    // stale staging from a crashed predecessor must not break anything
    new java.io.File(path + "__compact_staging").mkdirs()
    DedupOps.compactLedger(spark, path)
    snapshot() shouldBe before                  // read-equivalent
    filesPerPfx().values.max shouldBe 1         // bin-packed
    filesPerPfx().keys.foreach(_ should startWith ("pfx=")) // layout kept
    new java.io.File(path + "__compact_backup").exists() shouldBe false
    // appends keep working on the compacted ledger (steady-state no-op)
    DedupOps.refreshLedger(spark, path, docs.select("content_hash"))
    snapshot() shouldBe before
    // crash window recovery: live dir gone, backup present (the state
    // between the two renames) — the next compaction restores it
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__compact_backup"))
    DedupOps.compactLedger(spark, path)
    snapshot() shouldBe before

    // the d13 shape (unpartitioned band index): packs to few files
    val ndPath = s"$root/ndledger"
    val d = graft.sources.Tables.load(spark, TestSpark.sfDir,
      "documents").select("doc_id", "text")
      .withColumn("b", pmod(xxhash64(col("doc_id")), lit(6)))
    (0 until 6).foreach { i =>
      DedupOps.refreshNearDupLedger(spark, ndPath,
        d.filter(col("b") === i).drop("b"))
    }
    def ndFiles() = walk(new java.io.File(ndPath))
      .count(_.getName.startsWith("part-"))
    val ndBefore = graft.state.SegmentLedger.read(spark, ndPath, "index")
      .collect().map(_.toSeq).sortBy(_.toString)
    ndFiles() should be > 1
    DedupOps.compactBandLedger(spark, ndPath)
    graft.state.SegmentLedger.read(spark, ndPath, "index")
      .collect().map(_.toSeq).sortBy(_.toString) shouldBe ndBefore
    ndFiles() shouldBe 1 // well under 128 MB → one packed file
  }

  test("d9 ledgers are keyed per SF dir: no cross-SF contamination") {
    // A global ledger would MERGE sf0.001 hashes into the sf0.01 ledger
    // when the driver verifies both SFs in one round, while the oracle
    // re-derives per-SF — guaranteed mismatch. Distinct paths + stable
    // results across an interleaved other-SF run prove isolation.
    DedupOps.d9LedgerPath(TestSpark.sfDir) should not be
      DedupOps.d9LedgerPath("/root/testdata/sf0.01")
    def collectD9(dir: String) =
      SparkEntry.queries("d9_dedup_incremental")(spark, dir)
        .collect().map(_.toSeq).toSeq
    val before = collectD9(TestSpark.sfDir)
    collectD9("/root/testdata/sf0.01") // other-SF ingest in between
    collectD9(TestSpark.sfDir) shouldBe before
  }

  test("d12 containment pairs equal the brute-force directional " +
      "reference; containment is genuinely asymmetric") {
    // split with limit -1: Spark's split/DuckDB's string_split keep
    // trailing empty tokens; Java's default split drops them
    val raw = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sets = raw.map { case (id, t) =>
      id -> t.split(" ", -1).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val ref = (for {
      (i, si) <- sets; (j, sj) <- sets if i != j
      inter = (si & sj).size
      if inter.toDouble / si.size >= 0.9
    } yield (i, j) -> ((inter.toLong, inter.toDouble / si.size))).toMap
    val out = run("d12_containment_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    out.keySet shouldBe ref.keySet
    ref.foreach { case (k, (sh, c)) =>
      withClue(s"pair $k: ") {
        out(k)._1 shouldBe sh
        out(k)._2 shouldBe c +- 1e-12
      }
    }
    // the case Jaccard can't see: at least one pair where A is inside B
    // but not vice versa
    val oneWay = out.keySet.filter { case (i, j) => !out.contains((j, i)) }
    oneWay should not be empty
  }

  test("d13 incremental near-dup equals the brute-force cross-set " +
      "reference; re-runs are stable (ledger idempotent)") {
    val raw = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def shingles(t: String) = t.split(" ", -1).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    val batch = raw.filter(_._2 == "src0").map(r => r._1 -> shingles(r._3))
    val prior = raw.filter(_._2 != "src0").map(r => r._1 -> shingles(r._3))
    val ref = (for {
      (i, si) <- batch if si.nonEmpty
      (j, sj) <- prior if sj.nonEmpty
      inter = (si & sj).size
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= 0.8
    } yield (i, j) -> jac).toMap
    def got() = run("d13_incremental_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val out = got()
    out.keySet shouldBe ref.keySet
    ref.foreach { case (k, jac) =>
      withClue(s"pair $k: ") { out(k) shouldBe jac +- 1e-12 }
    }
    // idempotent maintenance: a second daily run over the same corpus
    // appends nothing and returns the same pairs
    got() shouldBe out
  }

  test("d14 wide simhash: blocking is lossless vs brute force; lo half " +
      "IS d4's signature; candidate key space is 2^32") {
    val sigs = graft.queries.DedupOps
      .simhashSigs128(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force 128-bit hamming pairs == the blocked operator output
    val ref = (for {
      (ia, ha, la) <- sigs; (ib, hb, lb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 7
    } yield (ia, ib) -> d.toLong).toMap
    val out = run("d14_dedup_simhash_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out shouldBe ref
    ref should not be empty
    // the wide signature REFINES the narrow one: its lo 64 bits equal
    // d4's signature bit for bit (same hash, same votes)
    val d4sigs = graft.queries.DedupOps
      .simhashSigs(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    sigs.foreach { case (id, _, lo) => lo shouldBe d4sigs(id) }
    // and the hi half genuinely adds information (not a copy)
    sigs.count { case (_, hi, lo) => hi != lo } should be > (sigs.length / 2)
  }

  test("d4/d14 simhash arms: narrow-blocked ≡ wide-blocked ≡ brute " +
      "force on real signatures") {
    import graft.operators.HammingNearDup
    val sigDf = graft.queries.DedupOps.simhashSigs128(spark, TestSpark.sfDir)
    val sigs = sigDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // brute-force 128-bit reference
    val ref = (for {
      (ia, ha, la) <- sigs; (ib, hb, lb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if d <= 7
    } yield (ia, ib) -> d.toLong).toMap
    def arms(f: => org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val narrow = arms(HammingNearDup
      .pairsWideNarrowBlocked(sigDf, "doc_id", "hi", "lo", 7))
    val wide = arms(HammingNearDup
      .pairsWide(sigDf, "doc_id", "hi", "lo", 7))
    narrow shouldBe ref
    wide shouldBe ref
    ref should not be empty
    // d4 ships the wide arm, d14 the narrow twin — both ARE this set
    arms(run("d4_dedup_simhash")) shouldBe ref
    arms(run("d14_dedup_simhash_wide")) shouldBe ref
  }

  test("simhash packed-lane guard: a ≥ 2^16-shingle document raises " +
      "loudly instead of silently corrupting vote lanes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // under the limit: passthrough, no error
    val ok = Seq((1L, 65535L), (2L, 10L)).toDF("doc_id", "n")
      .select(graft.queries.DedupOps.laneGuard(col("n"), col("doc_id"))
        .as("n")).collect().map(_.getLong(0)).sorted
    ok shouldBe Array(10L, 65535L)
    // at the limit: the tap-based oracles verify pairing over already
    // corrupted signatures, so overflow MUST fail the job, not ship
    val ex = intercept[Exception] {
      Seq((7L, 65536L)).toDF("doc_id", "n")
        .select(graft.queries.DedupOps.laneGuard(col("n"), col("doc_id"))
          .as("n")).collect()
    }
    ex.getMessage should include("packed-lane overflow")
    ex.getMessage should include("7")
  }

  test("containment positional filter is lossless under BOTH token " +
      "orders (forced arms vs brute force, subset-heavy corpus)") {
    // the shape the positional bound must survive: many near-subset
    // pairs right at the threshold, heavy token reuse (small token
    // universe → dense candidate buckets), plus identical-set groups
    import spark.implicits._
    val rnd = new scala.util.Random(1312)
    val universe = (1L to 60L).map(_ * 7919L)
    val rows = (1L to 120L).map { id =>
      val base = rnd.nextInt(universe.size)
      val len = 3 + rnd.nextInt(12)
      val s = (0 until len)
        .map(k => universe((base + k * (1 + rnd.nextInt(3))) % universe.size))
        .toSet.toArray.sorted
      (id, s)
    } ++ Seq((200L, Array(7919L, 15838L, 23757L)),
      (201L, Array(7919L, 15838L, 23757L))) // identical-set group
    val toks = rows.toDF("doc_id", "sh")
    val t = 0.9
    val ref = (for {
      (i, si0) <- rows; (j, sj0) <- rows if i != j
      si = si0.toSet; sj = sj0.toSet if si.nonEmpty
      inter = (si & sj).size
      if inter.toDouble / si.size >= t
    } yield (i, j) -> inter.toLong).toMap
    for (large <- Seq(false, true)) {
      val got = graft.operators.ContainmentNearDup
        .pairs(toks, "doc_id", "sh", t, large)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      withClue(s"large=$large: ") { got shouldBe ref }
    }
    ref.nonEmpty shouldBe true
  }

  test("containment under BOTH token orders: identical to brute force " +
      "on universal boilerplate tokens (subset pairs riding on them)") {
    // every doc opens with the same 3-token boilerplate (df = 150, the
    // corpus' hottest tokens); each even doc gets a strict-subset twin
    // KEEPING the boilerplate, so every planted containment pair
    // depends on the hot tokens: the hash order puts them in every
    // prefix, the df order pushes them past it, and the contained
    // side's prefix must still find a shared rare token
    import spark.implicits._
    val rnd = new scala.util.Random(9241)
    val boiler = Seq(11L, 22L, 33L)
    val base = (1L to 75L).map { id =>
      id -> (boiler ++ Seq.fill(9)(rnd.nextInt(4000).toLong + 100L))
        .distinct.toArray.sorted
    }
    val corpus = base ++ base.collect { case (id, ts) if id % 2 == 0 =>
      // subset: boilerplate + the first 6 non-boiler tokens → C ≥ 0.9
      (id + 1000L) -> (boiler ++ ts.filter(_ >= 100L).take(6))
        .toArray.sorted
    }
    val ref = (for {
      (i, si0) <- corpus; (j, sj0) <- corpus if i != j
      si = si0.toSet; sj = sj0.toSet if si.nonEmpty
      inter = (si & sj).size
      if inter.toDouble / si.size >= 0.9
    } yield (i, j) -> inter.toLong).toMap
    ref.nonEmpty shouldBe true
    for (large <- Seq(false, true)) {
      val got = graft.operators.ContainmentNearDup
        .pairs(corpus.toDF("doc_id", "sh"), "doc_id", "sh", 0.9, large)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      withClue(s"large=$large: ") { got shouldBe ref }
    }
  }

  test("containment: documents with empty shingle sets are never " +
      "reported as duplicates (0/0 guard)") {
    // two sub-3-word docs share an EMPTY 3-gram set; containment
    // |A∩B|/|A| is 0/0-undefined there and the DuckDB oracle's
    // shared-token join never surfaces such pairs — the within-group
    // expansion must not either (regression test for the r12 review
    // fix; the symmetric Jaccard twin has carried this guard since r6)
    import spark.implicits._
    val toks = Seq(
      (1L, Array(10L, 20L, 30L)), (2L, Array(10L, 20L, 30L)),
      (3L, Array.empty[Long]), (4L, Array.empty[Long]))
      .toDF("doc_id", "sh")
    val out = graft.operators.ContainmentNearDup
      .pairs(toks, "doc_id", "sh", 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    out shouldBe Set((1L, 2L), (2L, 1L)) // both directions, no (3,4)
  }

  test("d7 keeps exactly one document per cluster (keeper set)") {
    val kept = run("d7_dedup_apply").collect().map(_.getLong(0)).toSet
    val cluster = run("d6_dedup_clusters").select("doc_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept shouldBe cluster.values.toSet // keepers are the cluster labels
    // every document's cluster representative is kept
    cluster.values.foreach(c => kept should contain(c))
    // and no two kept docs share a cluster
    kept.map(cluster).size shouldBe kept.size
  }

  test("cluster assignment is consistent with the pair graph (d6)") {
    val cluster = run("d6_dedup_clusters").select("doc_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc labeled, labels are component minima ⇒ label ≤ id
    cluster.foreach { case (id, c) => c should be <= id }
    // linked docs share a cluster
    exactPairs.keys.foreach { case (i, j) =>
      cluster(i) shouldBe cluster(j)
    }
    // docs in no pair are singletons
    val paired = exactPairs.keys.flatMap(p => Seq(p._1, p._2)).toSet
    cluster.filterNot(kv => paired(kv._1))
      .foreach { case (id, c) => c shouldBe id }
    // transitive case: a chain like {8,12,120,360} collapses to one label
    val chains = exactPairs.keys
      .groupBy(_._1).filter(_._2.size > 1)
    chains.foreach { case (i, pairs) =>
      pairs.map(p => cluster(p._2)).toSet.size shouldBe 1
    }
  }

  test("d11 span dedup: exact token accounting and near-total dup removal") {
    val K = 8
    val docs = graft.sources.Tables
      .load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = run("d11_span_dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))

    out.length shouldBe docs.size
    def grams(t: String): Seq[Seq[String]] =
      t.split(" ").toSeq.sliding(K).filter(_.size == K).toSeq

    var excisedDocs = 0
    out.foreach { case (id, nSpans, nRemoved, clean) =>
      // token accounting is exact: cleaned length = original − removed
      clean.split(" ").count(_.nonEmpty) shouldBe
        (docs(id).split(" ").length - nRemoved)
      // marks are unions of nSpans K-token intervals
      nRemoved should be <= (nSpans * K)
      if (nSpans > 0) { excisedDocs += 1; nRemoved should be >= K.toLong }
      else { nRemoved shouldBe 0L; clean shouldBe docs(id) }
      // a cleaned doc never retains a NON-FIRST duplicated span intact:
      // for every gram duplicated in the original corpus, at most the
      // globally-first occurrence can still sit at its original tokens
    }
    excisedDocs should be >= 5 // the planted near-dups share long runs

    // corpus-wide: excision removes (nearly) all duplicated spans; the
    // only survivors are seam artifacts where deletion glued new grams
    def dupOccs(texts: Iterable[String]): Int = {
      val counts = texts.toSeq.flatMap(grams)
        .groupBy(identity).map(_._2.size)
      counts.filter(_ >= 2).sum
    }
    val before = dupOccs(docs.values)
    val after = dupOccs(out.map(_._4))
    before should be >= 1000 // the corpus really is span-duplicated
    after.toDouble should be <= before * 0.05
  }

  // ------------------------------------------------- d8 arm equality
  // The shipping large-corpus plan (in-stage verify, auto-engaged only
  // above d8InStageMinVecs = 100k vectors) must be provably
  // result-identical to the small arm — under BOTH tuning regimes, so
  // the wide-bits d8TargetBucketLarge configuration is exercised too.
  test("d8 forced in-stage arm ≡ small arm: identical pairs, scores, and " +
      "candidate taps, under small AND large tuning") {
    import DedupOps.D8Arm
    for (largeTuning <- Seq(false, true)) {
      def pairs(arm: DedupOps.D8Arm, tag: String) = DedupOps
        .lshCosinePairs(spark, TestSpark.sfDir, s"d8t_${tag}_$largeTuning",
          arm, Some(largeTuning))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val small = pairs(D8Arm.Small, "small")
      val inStage = pairs(D8Arm.InStage, "instage")
      withClue(s"largeTuning=$largeTuning: ") {
        // EXACT Double equality: the in-stage dot/(nrm·nrm) factoring
        // multiplies the same IEEE values in the same order as the
        // small arm's cosine — bit-identical, so the driver's
        // hash-compare holds through either arm
        inStage shouldBe small
        small should not be empty
        def tap(tag: String) = spark.read
          .parquet(s"${graft.sources.VerifyTap.root}/d8t_${tag}_$largeTuning")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        tap("instage") shouldBe tap("small")
      }
    }
  }

  test("d8 in-stage join condition evaluates cheap kills before the dot " +
      "product (conjunct-order plan gate)") {
    // The 24× sf10 speedup (972 s → 40 s) depends on the join
    // condition running vec_id< and first_equal_index BEFORE the
    // vector arithmetic. Catalyst preserves conjunct order today; this
    // gate catches a version bump that silently reorders them.
    val df = DedupOps.lshCosinePairs(spark, TestSpark.sfDir, "d8t_order",
      DedupOps.D8Arm.InStage)
    val conds = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.exists(_.toString.contains("float_vec_dot")) =>
        j.condition.get.toString
    }
    conds should not be empty
    conds.foreach { c =>
      val cheap = c.indexOf("first_equal_index")
      val dot = c.indexOf("float_vec_dot")
      withClue(s"condition: $c\n") {
        cheap should be >= 0
        dot should be > cheap
      }
    }
  }

  test("d15: keep set equals union-find over the thresholded kNN graph") {
    import org.apache.spark.sql.functions._
    // independent single-node reference: collect the (output-sized)
    // thresholded kNN edges and union-find them
    val edges = SimilarityOps
      .knnGraphEdges(spark, TestSpark.sfDir, Some("d15_spec_cand"))
      .filter(col("cosine") >= 0.4)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    edges.length should be > 0
    val ids = graft.sources.Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.filter(i => find(i) == i).sorted
    val got = run("d15_semantic_keep").collect().map(_.getLong(0))
    got.toSeq shouldBe expect.toSeq
    got.length should be < ids.length // non-vacuous: something dropped
  }

  test("d15l/s11l ledger twins ≡ rebuild row-for-row when the ledger " +
      "is bootstrapped on the same corpus") {
    // the twin contract the graph-source seam stands on: a ledger
    // bootstrapped on the full corpus trains the SAME quantizer as
    // the rebuild (deterministic training), and the merged-segment
    // read equals the one-pass build against the stored quantizer
    // (AnnRecallSpec's S10 contract) — so every consumer downstream
    // of the seam must emit identical rows under either source
    val path = s"/tmp/graft_state/graft_twin_${java.util.UUID
      .randomUUID().toString.take(8)}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
    try {
      val e = graft.sources.Tables.load(spark, TestSpark.sfDir,
          "embeddings").select("vec_id", "embedding")
      SimilarityOps.refreshKnnLedger(spark, path, e)
      val led = SimilarityOps.LedgerGraph(path)
      val keepR = DedupOps.semanticKeepOver(spark, TestSpark.sfDir,
        SimilarityOps.RebuildGraph, "d15_twin_r").collect()
      val keepL = DedupOps.semanticKeepOver(spark, TestSpark.sfDir,
        led, "d15_twin_l").collect()
      keepL.toSeq shouldBe keepR.toSeq
      keepR.length should be > 0
      val descR = SimilarityOps.descentOver(spark, TestSpark.sfDir,
        SimilarityOps.RebuildGraph, "s11_twin_r").collect()
      val descL = SimilarityOps.descentOver(spark, TestSpark.sfDir,
        led, "s11_twin_l").collect()
      descL.toSeq shouldBe descR.toSeq
      descR.length should be > 0
    } finally rm(new java.io.File(path))
  }
}
