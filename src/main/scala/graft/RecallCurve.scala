package graft

import org.apache.spark.sql.functions._

import graft.queries.SimilarityOps
import graft.sources.{Parquet, Tables}

/** Dev benchmark: the kNN-graph RECALL-vs-COST curve — what each
  * NN-descent round (s11's `nnDescentRound`) buys over the s9 IVF base
  * graph, against the exact brute-force top-KG graph as ground truth.
  * The exact graph is n² work, so this runs at dev corpus sizes
  * (sf0.01/sf0.1 — the recall statistic is a property of the
  * vectors/knobs, not of wall-clock); the COST side of the curve at
  * scale is the per-round timing printed here plus the s9/s11
  * `Bench slice` rows in BASELINE §sf10 (a descent round is ≤ 4·KG²·n
  * linear candidates vs the base build's n^1.5, so its relative price
  * FALLS as n grows).
  *
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.RecallCurve
  * [rounds] [workK] [nprobeBoost]"` — workK is the descent's internal
  * working width (Dong 2011's sample-rate knob; every per-round
  * recall is computed on the PRUNED top-KG view, so a wider working
  * graph never inflates the statistic), and nprobeBoost adds cells to
  * the seed build's probe budget. Prints `[curve] round=N recall=R
  * ... sec=S`; recorded in BASELINE.md §recall-curve.
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("filtered")) { filteredCurve(); return }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val rounds = args.headOption.map(_.toInt).getOrElse(2)
    val workK = args.lift(1).map(_.toInt).getOrElse(SimilarityOps.KG)
    val nprobeBoost = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-recall-curve")
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.VectorFunctions.cosine

    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    // exact ground truth: brute-force top-KG per vector (n·n scored
    // pairs via broadcast — the plan that cannot ship, fine as a dev
    // yardstick; same rank rule as the operators)
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = SimilarityOps.topKAgg(
        e.join(broadcast(q), col("qid") =!= col("vec_id"))
          .withColumn("cosine", cosine(col("qe"), col("embedding")))
          .select("qid", "vec_id", "cosine"),
        SimilarityOps.KG, ordered = false)
      .select("qid", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // recall is always measured on the PRUNED top-KG view — a wider
    // working graph (workK > KG) must not inflate the statistic by
    // counting its extra edges
    def recallOf(edges: org.apache.spark.sql.DataFrame): Double = {
      val got = SimilarityOps.topKAgg(
          edges.select("qid", "vec_id", "cosine"),
          SimilarityOps.KG, ordered = false)
        .select(col("qid"), col("neighbor_id").as("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }

    // seed arm: "rebuild" (default) = the s9-style IVF build at
    // workK/nprobeBoost; "ledger" = the maintained s10 graph read from
    // its standing ledger (bootstrapped full-corpus if absent) — the
    // F18 production-wiring measurement: what the descent rounds buy
    // when the seed is the KG-wide graph the pipeline already owns.
    val mode = args.lift(3).getOrElse("rebuild")
    println(s"[curve] arms rounds=$rounds workK=$workK " +
      s"nprobeBoost=$nprobeBoost mode=$mode sf=$sfDir")
    var t0 = System.nanoTime()
    var g = (mode match {
      case "ledger" =>
        val path = SimilarityOps.s10LedgerPath(sfDir)
        SimilarityOps.refreshKnnLedger(spark, path, e)
        SimilarityOps.s10Graph(spark, path, None)
      case _ => SimilarityOps.knnGraphEdges(spark, sfDir, None,
        nprobeBoost, workK)
    })
      .select(col("qid"), col("neighbor_id").as("vec_id"), col("cosine"))
      .localCheckpoint()
    println(f"[curve] round=0 recall=${recallOf(g)}%.4f novel_pairs=0 " +
      f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")

    (1 to rounds).foreach { r =>
      t0 = System.nanoTime()
      val prevG = g
      g = SimilarityOps.nnDescentRound(spark, sfDir, g, workK = workK)
        .select("qid", "vec_id", "cosine").localCheckpoint()
      g.count() // forces the round before the clock stops
      val sec = (System.nanoTime() - t0) / 1e9
      val improved = g.join(prevG, Seq("qid", "vec_id"), "left_anti")
        .count() // edges the round replaced with closer neighbors
      println(f"[curve] round=$r recall=${recallOf(g)}%.4f " +
        f"improved_edges=$improved sec=$sec%.2f")
    }
    spark.stop()
  }

  /** s12's recall-vs-SELECTIVITY curve (r19): predicate-filtered ANN
    * recall at four predicate selectivities (50% → 0.1% of the corpus)
    * under nprobe escalation (boost 0/1/2/4/all-cells). A highly
    * selective predicate leaves few allowed vectors inside the default
    * probe budget — the curve measures how recall decays with
    * selectivity and what each extra probed cell buys back (at
    * nprobe ≥ cells the filtered read is EXACT by construction — the
    * escalation knob's ceiling). Predicates are deterministic id
    * classes (vec_id % m = 0), so the curve is reproducible; recall is
    * vs the predicate-filtered exact brute force per query.
    * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.RecallCurve
    * filtered"`; recorded in BASELINE §recall-curve r19.
    */
  private def filteredCurve(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      "graft-filtered-curve")
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.VectorFunctions.cosine
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val path = SimilarityOps.s8LedgerPath(sfDir) + "_filteredcurve"
    SimilarityOps.refreshIvfLedger(spark, path, e)
    val cells = Parquet.read(spark, s"$path/centroids").count().toInt
    val q = e.filter(col("vec_id") < 8).localCheckpoint()
    println(s"[curve] filtered-ANN sf=$sfDir cells=$cells " +
      s"n=${e.count()}")
    for (m <- Seq(2L, 10L, 100L, 1000L)) {
      // exact filtered top-10 per query (brute force over the allowed
      // class — dev-corpus yardstick)
      val truth = SimilarityOps.topKAgg(
          e.filter(pmod(col("vec_id"), lit(m)) === 0)
            .join(broadcast(q.select(col("vec_id").as("qid"),
              col("embedding").as("qe"))), col("qid") =!= col("vec_id"))
            .withColumn("cosine", cosine(col("qe"), col("embedding")))
            .select("qid", "vec_id", "cosine"))
        .select("qid", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (boost <- Seq(0, 1, 2, 4, cells)) {
        val t0 = System.nanoTime()
        val got = SimilarityOps.topKAgg(
            SimilarityOps.s8Probe(spark, path, q, boost)
              .filter(pmod(col("vec_id"), lit(m)) === 0)
              .withColumn("cosine", cosine(col("qe"), col("embedding")))
              .select("qid", "vec_id", "cosine"))
          .select("qid", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val sec = (System.nanoTime() - t0) / 1e9
        val r = got.intersect(truth).size.toDouble / truth.size
        println(f"[curve] selectivity=1/$m boost=$boost " +
          f"recall=$r%.4f truth=${truth.size} got=${got.size} " +
          f"sec=$sec%.2f")
      }
    }
    spark.stop()
  }
}
