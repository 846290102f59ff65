package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.DedupOps
import graft.sources.Tables

/** Dev benchmark: evidence that d9's ingest cost is O(batch), not
  * O(corpus). The SAME fixed batch (sf0.1's `src0` slice) is deduped
  * against a prior-corpus ledger derived from sf0.1 (1×) and from the
  * ScaleUp-synthesized sf1 (10× corpus): O(batch) ingest keeps the
  * cost ~flat while the standing corpus behind the ledger grows 10×.
  * (The anti-join still SCANS the ledger — hashes, not documents, so
  * 32 bytes/doc at any scale, broadcast when it fits — but with the
  * append-only maintenance nothing corpus-sized is ever rewritten.)
  *
  * Run after `graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10`:
  *   sbt "runMain graft.LedgerScaleBench"
  * Prints `[ledger] label seconds`; recorded in BASELINE.md §sf1.
  * Each timed region is one [[Bench.timed]] run.
  */
object LedgerScaleBench {
  private def time(spark: SparkSession, label: String)(body: => Unit): Unit =
    println(f"[ledger] $label ${Bench.timed(spark)(body)}%.2f s")

  /** A fixed input staged to throwaway parquet: unlike a
    * localCheckpoint (a persistent RDD) it survives the [[Bench.clear]]
    * each timed run starts with.
    */
  private def staged(df: DataFrame): DataFrame = {
    val p = java.nio.file.Files.createTempDirectory("graft_ledger_in")
    df.write.parquet(s"$p/in")
    df.sparkSession.read.parquet(s"$p/in")
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
  }

  /** Fresh throwaway state path: removes the dir AND the writer-lock,
    * staging and backup SIBLINGS a previously crashed run leaves
    * behind, which would otherwise wedge the next run on the writer
    * lock's refusal until deleted by hand (ADVICE r20). Safe: the bench
    * owns these throwaway paths.
    */
  private def freshPath(path: String): Unit = {
    import graft.state.LedgerState._
    (new java.io.File(path) +: Seq(lockPath(path), stagingPath(path),
      backupPath(path)).map(p => new java.io.File(p.toUri.getPath)))
      .foreach(rm)
  }

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/tmp/graft_sf1")
    args.headOption match {
      case Some("compact") => compactScenario(small)
      case Some("s8") => s8Scenario(small, big)
      case Some("s10") => s10Scenario(small, big)
      case Some("retrain") => retrainScenario(small, big)
      case Some("retrainKnn") => retrainKnnScenario(small, big)
      case Some("s14repair") => s14RepairScenario(small, big)
      case Some("bandTakedown") => bandTakedownScenario(small, big)
      case _ => dedupScenario(small, args.headOption.getOrElse(big))
    }
  }

  /** d9 and d13's ingest against a 1× and a 10× standing ledger. */
  private def dedupScenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-ledger-scale")

    def ledgerOf(dir: String): String = {
      val prior = Tables.load(spark, dir, "documents")
        .filter(col("source") =!= "src0")
        .select(md5(col("text")).as("content_hash")).distinct()
      val path = DedupOps.d9LedgerPath(dir)
      DedupOps.refreshLedger(spark, path, prior)
      path
    }
    val batch = Tables.load(spark, small, "documents")
      .filter(col("source") === "src0")

    def timeDedup(path: String, label: String): Unit = time(spark, label)(
      Bench.noop(DedupOps.incrementalDedup(batch, spark.read.parquet(path))))

    // bootstrap both ledgers untimed; the timed region is the INGEST
    // dedup plan a daily run executes (ledger anti-join + batch agg).
    // Each ledger gets its OWN untimed warmup so the 10x number is not
    // penalized by cold page-cache/footer reads the 1x number skipped
    // — the asymmetry would land exactly on the comparison at stake.
    val p1x = ledgerOf(small)
    val p10x = ledgerOf(big)
    timeDedup(p1x, "warmup_1x")
    timeDedup(p1x, "batch_vs_1x_corpus_ledger")
    timeDedup(p10x, "warmup_10x")
    timeDedup(p10x, "batch_vs_10x_corpus_ledger")

    // the same question for d13's NEAR-dup ingest: a fixed batch probed
    // against the band-index ledger of a 1× and a 10× standing corpus.
    // The probe is a band-key equi-join (batch side broadcastable), so
    // the index scan grows with the corpus but the join work is
    // O(batch candidates) — the number at stake is how flat that holds.
    def ndLedgerOf(dir: String): String = {
      val prior = Tables.load(spark, dir, "documents")
        .filter(col("source") =!= "src0").select("doc_id", "text")
      val path = DedupOps.d13LedgerPath(dir)
      DedupOps.refreshNearDupLedger(spark, path, prior)
      path
    }
    val batchIdx = staged(DedupOps.minhashIndex(
      batch.select("doc_id", "text")))
    def timeNearDup(path: String, label: String): Unit = time(spark, label)(
      Bench.noop(DedupOps.nearDupProbe(batchIdx,
        DedupOps.readBandLedger(spark, path))))
    val n1x = ndLedgerOf(small)
    val n10x = ndLedgerOf(big)
    timeNearDup(n1x, "neardup_warmup_1x")
    timeNearDup(n1x, "neardup_batch_vs_1x_corpus_index")
    timeNearDup(n10x, "neardup_warmup_10x")
    timeNearDup(n10x, "neardup_batch_vs_10x_corpus_index")
    spark.stop()
  }

  /** s8's flatness evidence, same question as d9/d13's: do the two
    * daily plans stay ~flat while the standing index behind the ledger
    * grows 10×?
    *
    *  - QUERY: a fixed NQ-query batch probed against the persisted IVF
    *    index of a 1× (sf0.1) and a 10× (ScaleUp sf1) corpus. The _p2
    *    layout reads only the probed cid partitions, so the bytes per
    *    query grow at nprobe/cells (~√n) rate, not corpus rate — the
    *    number at stake is how flat that holds.
    *  - MAINTENANCE: the same fixed batch's novel-id anti-join against
    *    the slim id-only sidecar. Read-only by construction: ScaleUp
    *    replica 0 keeps original vec_ids, so the small batch is fully
    *    indexed in BOTH ledgers, novel is empty, nothing appends. The
    *    sidecar read grows with the corpus but carries 8-byte ids, not
    *    embeddings.
    *
    * Run after ScaleUp: `sbt "runMain graft.LedgerScaleBench s8"`;
    * recorded in BASELINE.md §sf1 (s8 ledger growth).
    */
  private def s8Scenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-s8-ledger-scale")
    import graft.queries.SimilarityOps
    def ledgerOf(dir: String): String = {
      val e = Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val path = SimilarityOps.s8LedgerPath(dir)
      SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
      SimilarityOps.refreshIvfLedger(spark, path, e)
      path
    }
    val p1x = ledgerOf(small)
    val p10x = ledgerOf(big)
    // the fixed daily QUERY batch: the small dir's 8 query vectors
    // (s8's NQ rule), present in both corpora
    val q = staged(Tables.load(spark, small, "embeddings")
      .select("vec_id", "embedding").filter(col("vec_id") < 8))
    def timeQuery(path: String, label: String): Unit =
      time(spark, label)(Bench.noop(SimilarityOps.s8Probe(spark, path, q)))
    timeQuery(p1x, "s8_query_warmup_1x")
    timeQuery(p1x, "s8_query_vs_1x_index")
    timeQuery(p10x, "s8_query_warmup_10x")
    timeQuery(p10x, "s8_query_vs_10x_index")
    // the fixed MAINTENANCE batch: the small corpus's embeddings
    val batch = Tables.load(spark, small, "embeddings")
      .select("vec_id", "embedding")
    def timeMaint(path: String, label: String): Unit = time(spark, label)(
      Bench.noop(batch.join(SimilarityOps.s8Ids(spark, path),
        Seq("vec_id"), "left_anti")))
    timeMaint(p1x, "s8_maint_warmup_1x")
    timeMaint(p1x, "s8_maint_batch_vs_1x_index")
    timeMaint(p10x, "s8_maint_warmup_10x")
    timeMaint(p10x, "s8_maint_batch_vs_10x_index")
    spark.stop()
  }

  /** Quantizer retrain migration cost vs corpus size (r19): the
    * scheduled offline job's price — one corpus re-train + re-assign +
    * staged swap — against a 1× and a 10× standing index. The cost is
    * O(corpus·cells) by construction (cells ≈ √n, so ~n^1.5 assignment
    * compute plus one corpus read/write); the number at stake is how
    * that lands next to the daily O(batch) maintenance it amortizes
    * over. Run: `sbt "runMain graft.LedgerScaleBench retrain"`.
    */
  private def retrainScenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-retrain-scale")
    import graft.queries.SimilarityOps
    def ledgerOf(dir: String): String = {
      val e = Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val path = SimilarityOps.s8LedgerPath(dir)
      SimilarityOps.refreshIvfLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
      SimilarityOps.refreshIvfLedger(spark, path, e)
      path
    }
    def timeRetrain(path: String, label: String): Unit =
      time(spark, label)(SimilarityOps.retrainIvfLedger(spark, path))
    val p1x = ledgerOf(small)
    timeRetrain(p1x, "retrain_1x_index")
    timeRetrain(p1x, "retrain_1x_index_rep2")
    val p10x = ledgerOf(big)
    timeRetrain(p10x, "retrain_10x_index")
    timeRetrain(p10x, "retrain_10x_index_rep2")
    spark.stop()
  }

  /** The GRAPH-side retrain migration wall vs corpus size (r20,
    * closing the r19 verdict's evidence gap — `retrainKnnLedger` was
    * spec-only while its IVF sibling had a measured arm): a standing
    * s10 graph ledger of a 1× and a 10× corpus, retrained in place.
    * The retrain IS a bootstrap-sized rebuild by design (re-keyed
    * cells + fresh edges), so the honest claim is "one s9 build + one
    * swap", not flatness — the rows pin that the migration wall tracks
    * the REBUILD cost (compare the same round's s9 `Bench slice` row),
    * with no super-linear term hiding in the staged-swap machinery.
    * Run after ScaleUp: `sbt "runMain graft.LedgerScaleBench
    * retrainKnn"`; recorded in BASELINE §sf1.
    */
  private def retrainKnnScenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-retrain-knn-scale")
    import graft.queries.SimilarityOps
    def ledgerOf(dir: String, tag: String): String = {
      val e = Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val path = s"/tmp/graft_state/graft_bench_retrainknn_$tag"
      freshPath(path)
      // the s10/s14 two-day shape: bootstrap on 7/8ths, append the rest
      SimilarityOps.refreshKnnLedger(spark, path,
        e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
      SimilarityOps.refreshKnnLedger(spark, path, e)
      path
    }
    def timeRetrain(path: String, label: String): Unit =
      time(spark, label)(SimilarityOps.retrainKnnLedger(spark, path))
    val p1x = ledgerOf(small, "1x")
    timeRetrain(p1x, "retrainKnn_1x_graph")
    timeRetrain(p1x, "retrainKnn_1x_graph_rep2")
    val p10x = ledgerOf(big, "10x")
    timeRetrain(p10x, "retrainKnn_10x_graph")
    timeRetrain(p10x, "retrainKnn_10x_graph_rep2")
    spark.stop()
  }

  /** s14's compaction-repair cost claim, measured (r20 — the
    * O(affected·(2KG)²) argument had no bench arm): compact a graph
    * ledger with ZERO tombstones (baseline — the pure rewrite wall),
    * then the same ledger with a FIXED-size tombstone set, at a 1× and
    * a 10× standing corpus. The repair delta (tombstoned − baseline)
    * must track the AFFECTED set (≈ tombstones × occupancy), not the
    * corpus — a repair that re-descended the whole graph would show a
    * delta growing with n. Run after ScaleUp: `sbt "runMain
    * graft.LedgerScaleBench s14repair"`; recorded in BASELINE §sf1.
    */
  private def s14RepairScenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-s14-repair-scale")
    import graft.queries.SimilarityOps
    def scenario(dir: String, tag: String): Unit = {
      val e = Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      // TWO-segment ledgers (the s10 two-day shape): a single-segment
      // no-tombstone ledger short-circuits compaction entirely, which
      // would time 0.03 s for the baseline and bill the whole session
      // warmup to the tombed arm (the first cut of this arm did
      // exactly that)
      def fresh(sub: String): String = {
        val path = s"/tmp/graft_state/graft_bench_s14rep_${tag}_$sub"
        freshPath(path)
        SimilarityOps.refreshKnnLedger(spark, path,
          e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
        SimilarityOps.refreshKnnLedger(spark, path, e)
        path
      }
      def timeCompact(path: String, label: String): Unit =
        time(spark, label)(SimilarityOps.compactKnnLedger(spark, path))
      // untimed warmup compaction on a throwaway ledger: the codegen/
      // planning constants of the compaction path must not land on
      // whichever timed arm happens to run first
      SimilarityOps.compactKnnLedger(spark, fresh("warm"))
      val base = fresh("base")
      timeCompact(base, s"s14_compact_${tag}_no_tombs")
      // FIXED absolute takedown (same ids at both scales: the small
      // corpus' id range is a subset of the big one's) — the repair
      // delta must not grow with the corpus behind it
      val tomb = fresh("tomb")
      val ids = Tables.load(spark, small, "embeddings")
        .select("vec_id").filter(pmod(col("vec_id"), lit(97L)) === 13L)
      SimilarityOps.tombstoneIds(spark, tomb, ids)
      timeCompact(tomb, s"s14_compact_${tag}_tombed")
    }
    scenario(small, "1x")
    scenario(big, "10x")
    spark.stop()
  }

  /** The r20 band-ledger takedown's O(takedown) claim, measured at
    * scale: tombstone-append a fixed takedown into the d13 band ledger
    * of a 1× and a 10× corpus and time it (plus the probe read before
    * and after, proving the anti-join seam costs nothing visible).
    * The r19 staged-swap takedown paid a whole-ledger rewrite here —
    * the number this arm replaces. Run after ScaleUp: `sbt "runMain
    * graft.LedgerScaleBench bandTakedown"`; recorded in BASELINE §sf1.
    */
  private def bandTakedownScenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-band-takedown-scale")
    def ledgerOf(dir: String, tag: String): String = {
      val prior = Tables.load(spark, dir, "documents")
        .filter(col("source") =!= "src0").select("doc_id", "text")
      val path = s"/tmp/graft_state/graft_bench_bandtd_$tag"
      freshPath(path)
      DedupOps.refreshNearDupLedger(spark, path, prior)
      path
    }
    val batchIdx = staged(DedupOps.minhashIndex(
      Tables.load(spark, small, "documents")
        .filter(col("source") === "src0").select("doc_id", "text")))
    def timeProbe(path: String, label: String): Unit = time(spark, label)(
      Bench.noop(DedupOps.nearDupProbe(batchIdx,
        DedupOps.readBandLedger(spark, path))))
    val ids = Tables.load(spark, small, "documents")
      .filter(col("source") =!= "src0")
      .select("doc_id").filter(pmod(col("doc_id"), lit(97L)) === 13L)
    Seq(ledgerOf(small, "1x") -> "1x", ledgerOf(big, "10x") -> "10x")
      .foreach { case (path, tag) =>
        timeProbe(path, s"band_probe_${tag}_pre")
        time(spark, s"band_takedown_$tag")(
          DedupOps.removeFromBandLedger(spark, path, ids))
        timeProbe(path, s"band_probe_${tag}_post")
      }
    spark.stop()
  }

  /** s10's O(batch) claim, measured: the SAME fixed novel batch (the
    * small dir's %8==5 slice, ids offset past both corpora) appended
    * to the kNN-graph ledger of a 1× and a 10× standing corpus, plus
    * the merged-graph read on each. O(batch·occupancy) maintenance
    * keeps the append near-flat while the standing graph grows 10× —
    * against s9's from-scratch rebuild (the same round's `Bench slice`
    * row) as the alternative a daily cadence would otherwise pay.
    * Run after ScaleUp: `sbt "runMain graft.LedgerScaleBench s10"`;
    * recorded in BASELINE §sf1.
    */
  private def s10Scenario(small: String, big: String): Unit = {
    val spark = GraftSession.local(32, "graft-s10-ledger-scale")
    import graft.queries.SimilarityOps
    // fresh standing ledgers (bootstrap untimed — the one-time s9-cost
    // build; the number at stake is the DAILY append)
    def ledgerOf(dir: String, slim: Boolean = false): String = {
      val e = Tables.load(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      // bench-private ledger path: the offset-id batch below must
      // NEVER land in the query's own ledger (phantom vec_ids would
      // drop out of the oracle's embeddings join and hash-mismatch
      // any later driver verify at this SF)
      val path = SimilarityOps.s10LedgerPath(dir) + "_growthbench" +
        (if (slim) "_slim" else "")
      freshPath(path) // dir + crashed-run lock/staging siblings
      SimilarityOps.refreshKnnLedger(spark, path, e, slimProbes = slim)
      path
    }
    val p1x = ledgerOf(small)
    val p10x = ledgerOf(big)
    val p1xS = ledgerOf(small, slim = true)
    val p10xS = ledgerOf(big, slim = true)
    def du(path: String): String = {
      def sz(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(sz).sum
        else f.length()
      f"${sz(new java.io.File(path + "/probes")) / 1048576.0}%.1f MiB"
    }
    println(s"[ledger] probes_bytes fat_1x=${du(p1x)} slim_1x=${du(p1xS)} " +
      s"fat_10x=${du(p10x)} slim_10x=${du(p10xS)}")
    // the fixed daily batch: novel ids against BOTH corpora
    val batch = staged(Tables.load(spark, small, "embeddings")
      .filter(pmod(col("vec_id"), lit(8)) === 5)
      .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding")))
    // appends mutate the ledger (idempotent replays would measure the
    // novelty no-op), so each is timed ONCE after a JVM/page-cache
    // warmup on the read path
    def timeRead(path: String, label: String): Unit = time(spark, label)(
      Bench.noop(SimilarityOps.s10Graph(spark, path, None)))
    def timeAppend(path: String, label: String): Unit =
      time(spark, label)(SimilarityOps.refreshKnnLedger(spark, path, batch))
    // the REFINED production read (F18 through the ledger — r17
    // verdict #8): maintained graph + 2 NN-descent rounds at workK =
    // 2·KG, the config that clears the 0.828 recall floor without the
    // n^1.5 seed rebuild (AnnRecallSpec ledger-path floor). Timed on
    // the clean full-corpus ledger, before the phantom-batch appends.
    def timeRefined(dir: String, path: String, label: String): Unit =
      time(spark, label)(Bench.noop(
        SimilarityOps.knnGraphRefinedLedger(spark, dir, path)))
    timeRead(p1x, "s10_read_warmup_1x")
    timeRefined(small, p1x, "s10_refined_read_vs_1x_graph")
    timeAppend(p1x, "s10_append_batch_vs_1x_graph")
    timeRead(p1x, "s10_read_vs_1x_graph")
    timeRead(p10x, "s10_read_warmup_10x")
    timeRefined(big, p10x, "s10_refined_read_vs_10x_graph")
    timeAppend(p10x, "s10_append_batch_vs_10x_graph")
    timeRead(p10x, "s10_read_vs_10x_graph")
    // the slim-probes arm, same window (same batch, same corpora):
    // what not storing qe ×nprobe costs at append time
    timeRead(p1xS, "s10slim_read_warmup_1x")
    timeAppend(p1xS, "s10slim_append_batch_vs_1x_graph")
    timeRead(p1xS, "s10slim_read_vs_1x_graph")
    timeRead(p10xS, "s10slim_read_warmup_10x")
    timeAppend(p10xS, "s10slim_append_batch_vs_10x_graph")
    timeRead(p10xS, "s10slim_read_vs_10x_graph")
    spark.stop()
  }

  /** The small-file tax of a long append chain, and what compaction
    * buys back: the SAME ledger content behind 100 daily-append
    * fragments vs bin-packed (`DedupOps.compactLedger`), timed on the
    * exact daily ingest plan (d9's ledger anti-join). Run:
    * `sbt "runMain graft.LedgerScaleBench compact"`; recorded in
    * BASELINE §sf1 (d9 ledger growth).
    */
  private def compactScenario(sfDir: String): Unit = {
    val spark = GraftSession.local(32, "graft-ledger-compact")
    val appends = 100
    val root = java.nio.file.Files
      .createTempDirectory("graft_ledger_compact").toString
    val path = s"$root/ledger_p1"
    val hashes = Tables.load(spark, sfDir, "documents")
      .filter(col("source") =!= "src0")
      .select(md5(col("text")).as("content_hash")).distinct()
      .withColumn("b", pmod(xxhash64(col("content_hash")), lit(appends)))
      .localCheckpoint()
    (0 until appends).foreach { i =>
      DedupOps.refreshLedger(spark, path,
        hashes.filter(col("b") === i).select("content_hash"))
    }
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path)).count(_.getName.startsWith("part-"))
    }
    val batch = Tables.load(spark, sfDir, "documents")
      .filter(col("source") === "src0")
    def timeDedup(label: String): Unit = {
      val sec = Bench.timed(spark)(Bench.noop(
        DedupOps.incrementalDedup(batch, spark.read.parquet(path))))
      println(f"[ledger] $label $sec%.2f s (${files()} files)")
    }
    timeDedup("compact_warmup")
    timeDedup("ingest_vs_100_append_chain")
    time(spark, "compaction_itself")(DedupOps.compactLedger(spark, path))
    timeDedup("ingest_vs_compacted_warmup")
    timeDedup("ingest_vs_compacted")
    spark.stop()
  }
}
