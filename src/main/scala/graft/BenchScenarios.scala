package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine
import graft.queries.{DedupOps, SimilarityOps}
import graft.sources.{Parquet, Tables}
import graft.state.SegmentLedger

/** The `ledger` and `recall` modes of [[Bench]]: the scale evidence for
  * the persisted ledgers (one record per applied unit; a re-run is a
  * no-op) and the ANN recall curves.
  *
  * `ledger <scenario> [small] [big]` bootstraps its ledgers untimed from
  * the `small` dir (1×, default SPARK_GRAFT_SF_DIR) and the `big` dir
  * (10×, default `/tmp/graft_sf1`, built by `graft.ScaleUp <sf0.1 dir>
  * /tmp/graft_sf1 10`), then times each row with
  * [[Bench.row]]. A row whose body mutates its ledger runs on a fresh
  * copy of an untimed seed ledger every rep ([[Run.onCopy]]), so every
  * rep measures the same thing. Each scenario's ledgers live under its
  * own root, `/tmp/graft_state/graft_bench_<scenario>`. Rows and the
  * BASELINE sections that record them:
  *
  *  - `dedup`: d9's hash anti-join of one fixed batch (the small dir's
  *    `src0` slice) against the prior corpus' ledger (§sf1, d9 ledger
  *    growth);
  *  - `s8`: the daily 8-query probe and the novel-id anti-join against
  *    the IVF ledger (§sf1, s8 ledger growth);
  *  - `retrain`: the IVF and the kNN-graph retrain migrations (§sf10
  *    r19/r20);
  *  - `s14repair`: graph compaction with no tombstones and with a fixed
  *    takedown, whose difference is the repair cost (§sf10 r20);
  *  - `bandTakedown`: a fixed takedown committed to the d13 band
  *    ledger's tombstone log, with the batch's near-dup probe before
  *    and after (§sf1 d13 rows, §sf10 r20, §r26);
  *  - `s10`: a fixed novel batch appended to the kNN-graph ledger, the
  *    merged read after it and the refined read (§s10 growth, §r26);
  *  - `compact` (small only): d9's ingest against a 100-append chain,
  *    its compaction, and the ingest after (§sf1, ledger compaction).
  *
  * `ledger segments <N…>` is the segment-count probe: an s8-shaped
  * ledger of N segments read through [[SegmentLedger]] (§segments).
  */
object BenchScenarios {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")

  /** The documents of the `src0` slice (the fixed daily batch), or of
    * every other source (the standing prior corpus).
    */
  private def docs(spark: SparkSession, dir: String,
      src0: Boolean): DataFrame = {
    val d = Tables.load(spark, dir, "documents")
    d.filter(if (src0) col("source") === "src0" else col("source") =!= "src0")
  }

  /** `path` emptied, together with the writer-lock, staging and backup
    * siblings a crashed run leaves behind: those would wedge the next
    * run on the lock's refusal.
    */
  private def freshPath(path: String): String = {
    (path +: SegmentLedger.siblings(path).map(_.toUri.getPath))
      .foreach(p => FileUtil.fullyDelete(new File(p)))
    path
  }

  /** A fixed input written to parquet at `path`: unlike a
    * localCheckpoint (a persistent RDD) it survives the [[Bench.clear]]
    * each timed rep starts with.
    */
  private def staged(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    Parquet.read(df.sparkSession, path)
  }

  /** The 1× and the 10× standing corpus, with their row tags. */
  private def scales(small: String, big: String)(
      f: (String, String) => Unit): Unit =
    Seq(small -> "1x", big -> "10x").foreach(f.tupled)

  /** The two-day shape of the s8 ledger, or with `knn` of the s10
    * ledger: bootstrap on 7/8ths of `dir`'s embeddings, then append the
    * rest as a second segment.
    */
  private def twoDay(spark: SparkSession, dir: String, path: String,
      knn: Boolean = false): String = {
    def refresh(p: String, e: DataFrame): Unit =
      if (knn) SimilarityOps.refreshKnnLedger(spark, p, e)
      else SimilarityOps.refreshIvfLedger(spark, p, e)
    val e = emb(spark, dir)
    refresh(freshPath(path), e.filter(pmod(col("vec_id"), lit(8)) =!= 5))
    refresh(path, e)
    path
  }

  /** `path` made a copy of ledger `seed`. */
  private def copy(spark: SparkSession, seed: String, path: String): String = {
    val fs = new Path(seed).getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, new Path(seed), fs, new Path(freshPath(path)), false,
      fs.getConf)
    path
  }

  private[graft] def root(scenario: String): String =
    s"/tmp/graft_state/graft_bench_$scenario"

  /** One scenario's session, state root and `[ledger] <scenario>` rows. */
  private final class Run(val spark: SparkSession, scenario: String) {
    def path(name: String): String = s"${root(scenario)}/$name"
    def row(name: String, setup: => Unit = ())(body: => Unit): Unit =
      Bench.row(spark, s"$scenario $name", setup)(body)

    /** Row `name` on a fresh copy of ledger `seed` each rep, at
      * `path(name)`; the last rep's result stays there.
      */
    def onCopy(name: String, seed: String)(body: String => Unit): String = {
      val p = path(name)
      row(name, copy(spark, seed, p))(body(p))
      p
    }
  }

  /** `ledger <scenario>`: each scenario by name, given (small, big). */
  private[graft] val ledger
      : Map[String, (SparkSession, String, String) => Unit] = Map(
    "dedup" -> dedup, "s8" -> s8, "retrain" -> retrain,
    "s14repair" -> s14repair, "bandTakedown" -> bandTakedown, "s10" -> s10,
    "compact" -> ((spark, small, _) => compact(spark, small)))

  /** d9's half; d13's near-dup probe of the same batch against the same
    * prior corpus is `bandTakedown`'s `band_probe_<tag>_pre` row.
    */
  private def dedup(spark: SparkSession, small: String, big: String): Unit = {
    val r = new Run(spark, "dedup")
    val batch = docs(spark, small, src0 = true)
    scales(small, big) { (dir, tag) =>
      val d9 = freshPath(r.path(s"d9_$tag"))
      DedupOps.refreshLedger(spark, d9, docs(spark, dir, src0 = false)
        .select(md5(col("text")).as("content_hash")).distinct())
      r.row(s"batch_vs_${tag}_corpus_ledger")(Bench.noop(
        DedupOps.incrementalDedup(batch, DedupOps.readHashLedger(spark, d9))))
    }
  }

  /** The query batch is the small dir's 8 query vectors (s8's rule),
    * present in both corpora. The maintenance batch is the small dir's
    * whole corpus: ScaleUp's replica 0 keeps the original ids, so it is
    * fully indexed at both scales and the anti-join appends nothing.
    */
  private def s8(spark: SparkSession, small: String, big: String): Unit = {
    val r = new Run(spark, "s8")
    val q = staged(emb(spark, small).filter(col("vec_id") < 8), r.path("q"))
    val batch = emb(spark, small)
    scales(small, big) { (dir, tag) =>
      val path = twoDay(spark, dir, r.path(tag))
      r.row(s"s8_query_vs_${tag}_index")(
        Bench.noop(SimilarityOps.s8Probe(spark, path, q)))
      r.row(s"s8_maint_batch_vs_${tag}_index")(Bench.noop(batch.join(
        SimilarityOps.s8Ids(spark, path), Seq("vec_id"), "left_anti")))
    }
  }

  /** The IVF and the kNN-graph retrain migrations. */
  private def retrain(spark: SparkSession, small: String, big: String): Unit = {
    val r = new Run(spark, "retrain")
    scales(small, big) { (dir, tag) =>
      r.onCopy(s"retrain_${tag}_index", twoDay(spark, dir,
        r.path(s"seed_ivf_$tag")))(SimilarityOps.retrainIvfLedger(spark, _))
      r.onCopy(s"retrainKnn_${tag}_graph", twoDay(spark, dir,
        r.path(s"seed_knn_$tag"), knn = true))(
        SimilarityOps.retrainKnnLedger(spark, _))
    }
  }

  /** The takedown is the same absolute ids at both scales (the small
    * corpus' id range is a subset of the big one's), so the repair
    * delta must not grow with the corpus behind it. Both ledgers have
    * two segments: a one-segment ledger with no tombstones skips
    * compaction altogether.
    */
  private def s14repair(spark: SparkSession, small: String,
      big: String): Unit = {
    val r = new Run(spark, "s14repair")
    val ids = emb(spark, small).select("vec_id")
      .filter(pmod(col("vec_id"), lit(97L)) === 13L)
    scales(small, big) { (dir, tag) =>
      val base = twoDay(spark, dir, r.path(s"seed_$tag"), knn = true)
      val tombed = copy(spark, base, r.path(s"seed_tombed_$tag"))
      SimilarityOps.tombstoneIds(spark, tombed, ids)
      Seq(base -> "no_tombs", tombed -> "tombed").foreach { case (seed, arm) =>
        r.onCopy(s"s14_compact_${tag}_$arm", seed)(
          SimilarityOps.compactKnnLedger(spark, _))
      }
    }
  }

  /** The pre-takedown probe reads the seed ledger; the post-takedown
    * probe reads the takedown row's last copy.
    */
  private def bandTakedown(spark: SparkSession, small: String,
      big: String): Unit = {
    val r = new Run(spark, "bandTakedown")
    val batchIdx = staged(DedupOps.minhashIndex(
      docs(spark, small, src0 = true).select("doc_id", "text")),
      r.path("batch_index"))
    def probe(path: String): Unit = Bench.noop(DedupOps.nearDupProbe(
      batchIdx, DedupOps.readBandLedger(spark, path), DedupOps.jaccardT))
    val ids = docs(spark, small, src0 = false).select("doc_id")
      .filter(pmod(col("doc_id"), lit(97L)) === 13L)
    scales(small, big) { (dir, tag) =>
      val seed = freshPath(r.path(s"seed_$tag"))
      DedupOps.refreshNearDupLedger(spark, seed,
        docs(spark, dir, src0 = false).select("doc_id", "text"))
      r.row(s"band_probe_${tag}_pre")(probe(seed))
      val taken = r.onCopy(s"band_takedown_$tag", seed)(
        DedupOps.removeFromBandLedger(spark, _, ids))
      r.row(s"band_probe_${tag}_post")(probe(taken))
    }
  }

  /** The batch is the small dir's %8==5 slice with ids offset past both
    * corpora, so it is novel at both scales.
    */
  private def s10(spark: SparkSession, small: String, big: String): Unit = {
    val r = new Run(spark, "s10")
    val batch = staged(emb(spark, small)
      .filter(pmod(col("vec_id"), lit(8)) === 5)
      .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding")),
      r.path("batch"))
    scales(small, big) { (dir, tag) =>
      val seed = twoDay(spark, dir, r.path(s"seed_$tag"), knn = true)
      // the production read: the maintained graph plus 2 NN-descent
      // rounds at workK = 2·KG, on the standing ledger
      r.row(s"s10_refined_read_vs_${tag}_graph")(Bench.noop(
        SimilarityOps.knnGraphRefinedLedger(spark, dir, seed)))
      val grown = r.onCopy(s"s10_append_batch_vs_${tag}_graph", seed)(
        SimilarityOps.refreshKnnLedger(spark, _, batch))
      r.row(s"s10_read_vs_${tag}_graph")(
        Bench.noop(SimilarityOps.s10Graph(spark, grown, None)))
      println(s"[ledger] s10 probes_bytes_$tag " +
        f"${FileUtil.getDU(new File(s"$seed/probes")) / 1048576.0}%.1f MiB")
    }
  }

  /** The same hashes behind 100 daily-append segments, then bin-packed
    * by `DedupOps.compactLedger`, each timed on d9's ingest plan.
    */
  private def compact(spark: SparkSession, dir: String): Unit = {
    val r = new Run(spark, "compact")
    val appends = 100
    val hashes = docs(spark, dir, src0 = false)
      .select(md5(col("text")).as("content_hash")).distinct()
      .withColumn("b", pmod(xxhash64(col("content_hash")), lit(appends)))
      .localCheckpoint()
    val chain = freshPath(r.path("chain"))
    (0 until appends).foreach { i =>
      DedupOps.refreshLedger(spark, chain,
        hashes.filter(col("b") === i).select("content_hash"))
    }
    val batch = docs(spark, dir, src0 = true)
    def ingest(path: String): Unit = Bench.noop(
      DedupOps.incrementalDedup(batch, DedupOps.readHashLedger(spark, path)))
    def files(path: String): Int = FileUtils.listFiles(new File(path), null,
      true).asScala.count(_.getName.startsWith("part-"))
    r.row("ingest_vs_100_append_chain")(ingest(chain))
    val compacted = r.onCopy("compaction_itself", chain)(
      DedupOps.compactLedger(spark, _))
    r.row("ingest_vs_compacted")(ingest(compacted))
    println(s"[ledger] compact files chain=${files(chain)} " +
      s"compacted=${files(compacted)}")
  }

  /** `ledger segments <N…>`: for each N, a ledger of N committed
    * segments written through [[SegmentLedger]], each 100 s8-shaped
    * rows over 8 `cid` partitions, with 10 tombstone records in every
    * 5th segment. Rows: building [[SegmentLedger.read]] and
    * [[SegmentLedger.tombs]] and counting each, plus each build's job
    * count.
    */
  private[graft] def segments(spark: SparkSession, ns: Seq[Int]): Unit = {
    val r = new Run(spark, "segments")
    ns.foreach { n =>
      val path = freshPath(r.path(s"n$n"))
      (0 until n).foreach { k =>
        val ids = spark.range(100L * k, 100L * (k + 1)).toDF()
        SegmentLedger.write(ids.select(col("id").as("vec_id"),
          pmod(col("id"), lit(8L)).as("cid"),
          array((1 to 8).map(i => (col("id") % (96 + i)).cast("float")): _*)
            .as("embedding")), path, "assign", k, Some("cid"))
        if (k % 5 == 0) SegmentLedger.writeTombs(
          ids.filter(col("id") % 10 === 0), path, k, SegmentLedger.Tomb)
        SegmentLedger.commit(spark, path, k)
      }
      Seq[(String, () => DataFrame)](
        "read" -> (() => SegmentLedger.read(spark, path, "assign")),
        "tombs" -> (() => SegmentLedger.tombs(spark, path, "vec_id"))
      ).foreach { case (name, build) =>
        val (sc, group) = (spark.sparkContext, s"graft-bench-$name-$n")
        sc.setJobGroup(group, group)
        val df = try build() finally sc.clearJobGroup()
        GraftBridge.drainListenerBus(sc)
        println(s"[ledger] segments ${name}_build_jobs_$n " +
          sc.statusTracker.getJobIdsForGroup(group).length)
        r.row(s"${name}_build_$n")(build())
        r.row(s"${name}_count_$n")(df.count())
      }
    }
  }

  /** Brute-force top-`k` of each `q` vector over `e` (itself excluded):
    * the n² exact truth, feasible at dev corpus sizes.
    */
  private def exact(e: DataFrame, q: DataFrame, k: Int): Set[(Long, Long)] =
    topPairs(e.join(broadcast(q.select(col("vec_id").as("qid"),
        col("embedding").as("qe"))), col("qid") =!= col("vec_id"))
      .withColumn("cosine", cosine(col("qe"), col("embedding"))), k)

  /** The (qid, neighbor) pairs of the top-`k` of scored rows. */
  private def topPairs(scored: DataFrame, k: Int): Set[(Long, Long)] =
    SimilarityOps.topKAgg(scored.select("qid", "vec_id", "cosine"), k,
        ordered = false)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Recall of scored rows pruned to their top-`k` (so a wider working
    * graph never inflates it), and the number of pairs they hold.
    */
  private def recall(scored: DataFrame, truth: Set[(Long, Long)],
      k: Int): (Double, Int) = {
    val got = topPairs(scored, k)
    (got.intersect(truth).size.toDouble / truth.size, got.size)
  }

  /** `recall rebuild|ledger [rounds] [workK] [nprobeBoost]`: what each
    * NN-descent round buys over the seed graph, against the exact top-KG
    * graph. The seed is the s9 IVF build at working width `workK` with
    * `nprobeBoost` extra probed cells (`rebuild`), or the maintained s10
    * graph of the dir's standing ledger (`ledger`). Each round's `sec`
    * is one run of it, the cost side of the curve (§recall-curve).
    */
  private[graft] def curve(spark: SparkSession, sfDir: String, seed: String,
      args: Seq[Int]): Unit = {
    import SimilarityOps.KG
    val Seq(rounds, workK, boost) = args ++ Seq(2, KG, 0).drop(args.size)
    val e = emb(spark, sfDir)
    val truth = exact(e, e, KG)
    println(s"[recall] $seed rounds=$rounds workK=$workK " +
      s"nprobeBoost=$boost sf=$sfDir")
    var t0 = System.nanoTime()
    def sec = (System.nanoTime() - t0) / 1e9
    var g = (if (seed == "ledger") {
        val path = SimilarityOps.s10LedgerPath(sfDir)
        SimilarityOps.refreshKnnLedger(spark, path, e)
        SimilarityOps.s10Graph(spark, path, None)
      } else SimilarityOps.knnGraphEdges(spark, sfDir, None, boost, workK))
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
      .localCheckpoint()
    println(f"[recall] round=0 sec=$sec%.2f recall=${recall(g, truth, KG)._1}%.4f")
    (1 to rounds).foreach { i =>
      t0 = System.nanoTime()
      val prev = g
      g = SimilarityOps.nnDescentRound(spark, sfDir, g, workK = workK)
        .select("qid", "vec_id", "cosine").localCheckpoint()
      val s = sec
      // edges the round replaced with closer neighbors
      val improved = g.join(prev, Seq("qid", "vec_id"), "left_anti").count()
      println(f"[recall] round=$i sec=$s%.2f " +
        f"recall=${recall(g, truth, KG)._1}%.4f improved_edges=$improved")
    }
  }

  /** `recall filtered`: s12's predicate-filtered ANN recall at four
    * selectivities (the id classes vec_id % m = 0) under nprobe boosts
    * 0/1/2/4/all cells, against the filtered exact top-10; at all cells
    * the read is exact by construction (§recall-curve r19).
    */
  private[graft] def filtered(spark: SparkSession, sfDir: String): Unit = {
    val e = emb(spark, sfDir)
    val path = freshPath(s"${root("recall")}/filtered")
    SimilarityOps.refreshIvfLedger(spark, path, e)
    val cells = Parquet.read(spark, s"$path/centroids").count().toInt
    val q = e.filter(col("vec_id") < 8)
    println(s"[recall] filtered sf=$sfDir cells=$cells n=${e.count()}")
    for (m <- Seq(2L, 10L, 100L, 1000L)) {
      val allowed = pmod(col("vec_id"), lit(m)) === 0
      val truth = exact(e.filter(allowed), q, 10)
      for (boost <- Seq(0, 1, 2, 4, cells)) {
        val (rc, got) = recall(SimilarityOps.s8Probe(spark, path, q, boost)
          .filter(allowed)
          .withColumn("cosine", cosine(col("qe"), col("embedding"))), truth, 10)
        println(f"[recall] filtered selectivity=1/$m boost=$boost " +
          f"recall=$rc%.4f truth=${truth.size} got=$got")
      }
    }
  }
}
