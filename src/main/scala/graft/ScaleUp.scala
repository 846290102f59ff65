package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Synthesizes a larger scale factor from an existing one by disjoint
  * replication, so the bench can be run at 10× (sf1) on the same host:
  * `runMain graft.ScaleUp <inDir> <outDir> <factor>`.
  *
  * Replica `r` of a row shifts every entity key by `r · 10⁹`, keeping
  * referential integrity within the replica (orders ↔ customer ↔
  * lineitem joins all resolve) while keeping replicas disjoint.
  * Fixed-cardinality dimensions (region, nation, and the nationkey
  * references into them) are copied unchanged, mirroring TPC-H, so
  * group-by cardinalities stay realistic while fact tables grow.
  *
  * Two perturbations keep the DEDUP workloads representative — naive
  * replication would create cross-replica exact/near duplicates, whose
  * pair counts grow quadratically in the factor instead of the linear
  * growth a real 10× corpus has:
  *  - documents: replica r > 0 suffixes every word with `_r<r>`, so no
  *    shingle survives across replicas (cross-replica Jaccard = 0)
  *    while within-replica near-dup structure is preserved exactly;
  *  - embeddings: replica r applies an orthogonal transform (cyclic
  *    rotation by `r mod dim`, composed with a ±1 diagonal sign
  *    pattern for r ≥ dim — see [[scaleEmbeddings]]), so within-replica
  *    dot products (and thus the whole pair/cluster structure) are
  *    preserved EXACTLY, while cross-replica cosines are as unrelated
  *    as random vectors at ANY factor.
  * Each output table therefore has exactly `factor ×` the rows, and
  * pair-generating operators scale linearly, like a real bigger corpus.
  */
object ScaleUp {
  private val Offset = 1000000000L

  /** The embeddings replica transform (key shift + an orthogonal
    * per-replica transform, so within-replica pair/cluster structure is
    * preserved EXACTLY while cross-replica cosines are as unrelated as
    * random vectors), exposed for specs and benches that need a larger
    * vector corpus without synthesizing every table.
    *
    * Replica r composes two orthogonal maps: a cyclic rotation by
    * `r mod dim` positions, and — for r ≥ dim, where rotations alone
    * would REPEAT and create exact cross-replica duplicates (quadratic
    * pair growth) — a diagonal ±1 sign pattern keyed by `r div dim`.
    * Sign flips cancel inside a replica ((s⊙v)·(s⊙w) = v·w, exact in
    * IEEE — negation flips a bit), so within-replica structure is
    * still preserved exactly, while any two replicas differ in either
    * rotation or an (expected-)half-disagreeing sign pattern. Factors
    * up to dim keep the historical pure-rotation output bit-for-bit.
    */
  def scaleEmbeddings(base: DataFrame, factor: Int): DataFrame = {
    val cols = base.columns
    base.crossJoin(
        base.sparkSession.range(factor).toDF("replica").hint("broadcast"))
      .withColumn("vec_id", col("vec_id") + col("replica") * Offset)
      .withColumn("rot", pmod(col("replica"), size(col("embedding"))).cast("int"))
      .withColumn("lvl", (col("replica") / size(col("embedding"))).cast("long"))
      .withColumn("embedding", when(col("rot") === 0, col("embedding"))
        .otherwise(concat(
          slice(col("embedding"), (col("rot") + 1),
            size(col("embedding")) - col("rot")),
          slice(col("embedding"), lit(1), col("rot")))))
      .withColumn("embedding", when(col("lvl") === 0, col("embedding"))
        .otherwise(expr(
          "transform(embedding, (x, i) -> " +
            "IF(pmod(xxhash64(lvl, i), 2) = 0, x, CAST(-x AS FLOAT)))")))
      .select(cols.map(col).toIndexedSeq: _*)
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1 && factor <= 1024, s"factor out of range: $factor")
    val spark = GraftSession.local(GraftSession.cpus, "graft-scaleup")
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def src(name: String): DataFrame =
      Parquet.read(spark, s"$inDir/$name.parquet")

    /** Output file count for a table: ~64 MB target files (the layout a
      * real table at this size would have), floored at the session's
      * parallelism. Without this the replicated frame inherits the
      * small source's partitioning and a 100× table lands as ONE file /
      * ONE row group — every downstream scan of it is a single task, and
      * the bench measures file-layout serialization instead of the
      * plans (observed: sf10 documents as one 80 MB part → serial scans
      * throughout).
      */
    def targetFiles(name: String): Int = {
      val path = new org.apache.hadoop.fs.Path(s"$inDir/$name.parquet")
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(path).getLength * factor
      val bySize = (bytes / (64L << 20)).toInt + 1
      math.max(spark.sparkContext.defaultParallelism, bySize)
    }

    def write(df: DataFrame, name: String, parts: Option[Int] = None): Unit = {
      val out = parts.fold(df)(df.repartition(_))
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    /** factor copies with `keys` shifted by r·Offset; `extra` rewrites
      * applied per replica (receiving the replica column).
      */
    def replicate(name: String, keys: Seq[String],
        extra: (DataFrame, Column) => DataFrame = (d, _) => d): Unit = {
      val base = src(name)
      val cols = base.columns
      var df = base.crossJoin(
        spark.range(factor).toDF("replica").hint("broadcast"))
      keys.foreach(k => df = df.withColumn(k,
        col(k) + col("replica") * Offset))
      df = extra(df, col("replica"))
      write(df.select(cols.map(col).toIndexedSeq: _*), name,
        Some(targetFiles(name)))
    }

    // fixed-cardinality dims: copy unchanged
    Seq("region", "nation").foreach(n => write(src(n), n))

    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))

    replicate("documents", Seq("doc_id"), (df, r) => df
      .withColumn("text", when(r === 0, col("text"))
        .otherwise(array_join(
          transform(split(col("text"), " "),
            w => concat(w, lit("_r"), r.cast("string"))), " ")))
      .withColumn("n_chars", when(r === 0, col("n_chars"))
        .otherwise(length(col("text")).cast("long"))))

    write(scaleEmbeddings(src("embeddings"), factor), "embeddings",
      Some(targetFiles("embeddings")))

    Tables.check(spark, inDir, outDir, factor)
    spark.stop()
  }

  /** Row-count audit: every table must be exactly `factor ×` (dims 1×). */
  private object Tables {
    def check(spark: SparkSession, inDir: String, outDir: String,
        factor: Int): Unit =
      graft.sources.Tables.names.foreach { n =>
        val in = Parquet.read(spark, s"$inDir/$n.parquet").count()
        val out = Parquet.read(spark, s"$outDir/$n.parquet").count()
        val want = if (n == "region" || n == "nation") in else in * factor
        require(out == want, s"$n: expected $want rows, got $out")
        println(s"[scaleup] $n: $in -> $out rows")
      }
  }
}
