package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** The ONE segmented ledger layout (the s8 IVF, s10 kNN-graph and d13
  * band ledgers), on top of [[LedgerState]]'s crash protocol:
  *
  *   path/<sub>/seg-k    sub-table `sub` of segment k (s8: assign + ids;
  *                       s10: assign, probes, edges, ids; d13: index)
  *   path/tombs/seg-k    the tombstone LOG's records of segment k:
  *                       (id, op), op ∈ tomb/untomb; the live
  *                       tombstone set is the last op per id
  *   path/commits/seg-k  zero-byte marker, created LAST — the one
  *                       commit point of every sub written at k
  *
  * Readers see only marker-committed segments, so a crash anywhere in
  * a segment write leaves the ledger reading its pre-write state; the
  * torn dirs are deleted at the next writer's entry ([[withWriter]]).
  * A segment may carry data, tombstone records or both (d13 commits a
  * fresh-doc append and its resurrections under one marker).
  * Compaction and retrain stage a whole ledger whose one segment is
  * seg-0 and swap it in ([[compact]]).
  */
object SegmentLedger {

  val Tomb = "tomb"
  val Untomb = "untomb"

  private def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def segsIn(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("seg-") => n.drop(4).toInt }
      .sorted

  /** Committed segment numbers, ascending: the markers are the ledger's
    * source of truth (a metadata-sized listing).
    */
  private def committed(s: SparkSession, path: String): Seq[Int] =
    segsIn(fsOf(s, path), new Path(path, "commits"))

  /** The committed segments that hold `sub`. */
  def segments(s: SparkSession, path: String, sub: String): Seq[Int] = {
    val c = committed(s, path).toSet
    segsIn(fsOf(s, path), new Path(path, sub)).filter(c)
  }

  /** The ledger's one writer ([[LedgerState.withWriter]]), entered with
    * every torn segment dir deleted — safe by construction: a segment
    * without its marker was never visible to any reader.
    */
  def withWriter[A](s: SparkSession, path: String, who: String)(
      body: => A): A = {
    val fs = fsOf(s, path)
    LedgerState.withWriter(fs, path, who) {
      val p = new Path(path)
      if (fs.exists(p)) {
        val live = committed(s, path).map(k => s"seg-$k").toSet
        fs.listStatus(p).filter(st =>
            st.isDirectory && st.getPath.getName != "commits")
          .flatMap(d => fs.listStatus(d.getPath))
          .filter(st => st.getPath.getName.startsWith("seg-") &&
            !live(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, true))
      }
      body
    }
  }

  /** The number the next segment commits under. */
  def next(s: SparkSession, path: String): Int =
    committed(s, path).lastOption.fold(0)(_ + 1)

  /** Write `df` as sub-table `sub` of (uncommitted) segment `k`.
    * Partitioned on `partCol` when given, repartitioned ON it first so
    * each partition dir gets the one file of the one task that hashes
    * to it, not a file per (task × partition).
    */
  def write(df: DataFrame, path: String, sub: String, k: Int,
      partCol: Option[String] = None): Unit = {
    val out = s"$path/$sub/seg-$k"
    partCol match {
      case Some(c) => df.repartition(col(c)).write.partitionBy(c)
        .mode("overwrite").parquet(out)
      case None => df.write.mode("overwrite").parquet(out)
    }
  }

  /** Tombstone-log records `op` for the ids of one-column `ids`, in
    * (uncommitted) segment `k`.
    */
  def writeTombs(ids: DataFrame, path: String, k: Int, op: String): Unit =
    write(ids.select(col(ids.columns.head).as("id"), lit(op).as("op"))
      .coalesce(1), path, "tombs", k)

  /** Commit segment `k`: the marker is the last thing written. */
  def commit(s: SparkSession, path: String, k: Int): Unit = {
    val fs = fsOf(s, path)
    fs.mkdirs(new Path(path, "commits"))
    fs.create(new Path(path, s"commits/seg-$k"), true).close()
  }

  /** Sub-table `sub` over every committed segment: a union of
    * per-segment scans, each pruned to `cids` when given (a
    * PartitionFilters prune — cid is the partition column) and then
    * projected to `keep`, which pins the schema after the prune.
    */
  def read(s: SparkSession, path: String, sub: String,
      keep: Seq[Column] = Nil, cids: Option[Seq[Long]] = None): DataFrame = {
    val segs = segments(s, path, sub)
    require(segs.nonEmpty, s"no committed $sub segments at $path")
    segs.map { k =>
      val seg = Parquet.read(s, s"$path/$sub/seg-$k")
      val pruned = cids.fold(seg)(c => seg.filter(col("cid").isin(c: _*)))
      if (keep.isEmpty) pruned else pruned.select(keep: _*)
    }.reduce(_ unionByName _)
  }

  /** The live tombstone set as one `idCol` column: the ids whose last
    * logged op is a tomb. Empty before any takedown.
    */
  def tombs(s: SparkSession, path: String, idCol: String): DataFrame = {
    val segs = segments(s, path, "tombs")
    if (segs.isEmpty) s.range(0).select(col("id").as(idCol))
    else segs.map(k => Parquet.read(s, s"$path/tombs/seg-$k")
        .withColumn("seg", lit(k)))
      .reduce(_ unionByName _)
      // the last op per id: seg·2 + isTomb orders by segment, and a max
      // over one long keeps it a hash aggregate (a string-valued max_by
      // buffer plans as a sort aggregate)
      .groupBy("id")
      .agg(max(col("seg") * 2 + (col("op") === Tomb).cast("long")).as("last"))
      .filter(col("last") % 2 === 1).select(col("id").as(idCol))
  }

  /** Compaction and retrain: under the ledger's writer, and only if
    * `when` holds there, `build` writes a whole new ledger into the
    * staging dir — its segment-0 sub-tables plus any side dirs — from
    * the live one; seg-0 is committed and the staging swapped in
    * ([[LedgerState.swapIn]]). Readers keep the old committed state
    * until the one-rename flip; raw renames, so cached file listings
    * of the path are refreshed.
    */
  def compact(s: SparkSession, path: String, who: String,
      when: => Boolean = true)(build: String => Unit): Unit = {
    val fs = fsOf(s, path)
    withWriter(s, path, who) {
      require(fs.exists(new Path(path)), s"no ledger at $path")
      if (when) {
        val staging = LedgerState.stagingPath(path)
        fs.delete(staging, true)
        build(staging.toString)
        commit(s, staging.toString, 0)
        LedgerState.swapIn(fs, new Path(path), staging,
          LedgerState.backupPath(path))
        s.catalog.refreshByPath(path)
      }
    }
  }
}
