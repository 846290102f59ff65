package graft.state

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** The ONE persisted-ledger layout (the d9/d16/d17 content-hash, d13
  * band, s8 IVF and s10 kNN-graph ledgers), on top of [[LedgerState]]'s
  * crash protocol:
  *
  *   path/<sub>/seg=k    sub-table `sub` of segment k (hash: hashes,
  *                       partitioned on pfx; s8: assign + ids; s10:
  *                       assign, probes, edges, ids; d13: index)
  *   path/tombs/seg=k    the tombstone LOG's records of segment k:
  *                       (id, op), op ∈ tomb/untomb; the live
  *                       tombstone set is the last op per id
  *   path/commits/seg=k  zero-byte marker, created LAST — the one
  *                       commit point of every sub written at k
  *
  * A sub-table reads as ONE relation over its marker-committed `seg=k`
  * roots, with `path/<sub>` as the base path so `seg` is a partition
  * column: a crash anywhere in a segment write leaves the ledger
  * reading its pre-write state, and the torn dirs are deleted at the
  * next writer's entry ([[withWriter]]). A segment may carry data,
  * tombstone records or both (a refresh commits its fresh rows and its
  * resurrections under one marker). Compaction and retrain stage a
  * whole ledger whose one segment is seg=0 and swap it in
  * ([[compact]]). Side dirs (`centroids`, the `_bloom` sidecar) are
  * their caller's.
  */
object SegmentLedger {

  val Tomb = "tomb"
  val Untomb = "untomb"

  private def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def seg(k: Int): String = s"seg=$k"

  private def segsIn(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("seg=") => n.drop(4).toInt }
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

  /** The ledger's writer lock (a sibling file; present while a writer
    * runs or after one died).
    */
  def lockPath(path: String): Path = LedgerState.lockPath(path)

  /** The writer lock, staging and backup siblings of `path`. */
  def siblings(path: String): Seq[Path] = Seq(LedgerState.lockPath(path),
    LedgerState.stagingPath(path), LedgerState.backupPath(path))

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
        val live = committed(s, path).map(seg).toSet
        fs.listStatus(p).filter(st =>
            st.isDirectory && st.getPath.getName != "commits")
          .flatMap(d => fs.listStatus(d.getPath))
          .filter(st => st.getPath.getName.startsWith("seg=") &&
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
    val out = s"$path/$sub/${seg(k)}"
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
    fs.create(new Path(path, s"commits/${seg(k)}"), true).close()
  }

  /** Sub-table `sub` of segment `k` alone, committed or not (a writer
    * reading back what it just wrote). No `seg` column.
    */
  def readSegment(s: SparkSession, path: String, sub: String,
      k: Int): DataFrame =
    Parquet.read(s, s"$path/$sub/${seg(k)}")

  /** Segments `segs` of `sub` as one relation, `seg` a column. */
  private def relation(s: SparkSession, path: String, sub: String,
      segs: Seq[Int]): DataFrame =
    Parquet.readUnder(s, s"$path/$sub", segs.map(k => s"$path/$sub/${seg(k)}"))

  /** Sub-table `sub` over every committed segment, as one relation:
    * pruned to `cids` when given (a PartitionFilters prune — cid is a
    * partition column) and then projected to `keep`, which pins the
    * schema after the prune. Without `keep`, every column but `seg`.
    */
  def read(s: SparkSession, path: String, sub: String,
      keep: Seq[Column] = Nil, cids: Option[Seq[Long]] = None): DataFrame = {
    val segs = segments(s, path, sub)
    require(segs.nonEmpty, s"no committed $sub segments at $path")
    val all = relation(s, path, sub, segs)
    val pruned = cids.fold(all)(c => all.filter(col("cid").isin(c: _*)))
    if (keep.isEmpty) pruned.drop("seg") else pruned.select(keep: _*)
  }

  /** The live tombstone set as one `idCol` column: the ids whose last
    * logged op is a tomb. Empty before any takedown.
    */
  def tombs(s: SparkSession, path: String, idCol: String): DataFrame = {
    val segs = segments(s, path, "tombs")
    if (segs.isEmpty) s.range(0).select(col("id").as(idCol))
    else relation(s, path, "tombs", segs)
      // the last op per id: seg·2 + isTomb orders by segment, and a max
      // over one long keeps it a hash aggregate (a string-valued max_by
      // buffer plans as a sort aggregate)
      .groupBy("id")
      .agg(max(col("seg").cast("long") * 2 +
        (col("op") === Tomb).cast("long")).as("last"))
      .filter(col("last") % 2 === 1).select(col("id").as(idCol))
  }

  /** Sub-table `sub` minus the live tombstones on `idCol`: the bare
    * [[read]] before any takedown, else an anti-join of the broadcast
    * (takedown-sized) tombstone set.
    */
  def live(s: SparkSession, path: String, sub: String,
      idCol: String): DataFrame = {
    val rows = read(s, path, sub)
    if (segments(s, path, "tombs").isEmpty) rows
    else rows.join(broadcast(tombs(s, path, idCol)), Seq(idCol), "left_anti")
  }

  /** Under the caller's writer: the keys of `prior` (`key` plus the
    * columns `writeRows` needs) absent from the live `sub` join it as
    * the next segment. Keys a takedown shadowed are RESURRECTED by
    * `untomb` records (their rows are still in place, so no key ever
    * gets a second physical row); `writeRows(fresh, k)` writes the
    * rest. `beforeCommit(k, novel)` runs last before the one marker,
    * with the novel rows (None at the bootstrap, which writes all of
    * `prior`). Nothing novel commits nothing.
    */
  def appendNovel(s: SparkSession, path: String, sub: String, key: String,
      prior: DataFrame)(writeRows: (DataFrame, Int) => Unit,
      beforeCommit: (Int, Option[DataFrame]) => Unit = (_, _) => ()): Unit = {
    val k = next(s, path)
    if (segments(s, path, sub).isEmpty) {
      writeRows(prior, k)
      beforeCommit(k, None)
      commit(s, path, k)
    } else {
      // batch-sized, materialized before any write so the write never
      // scans its own destination
      val novel = prior
        .join(live(s, path, sub, key).select(key), Seq(key), "left_anti")
        .localCheckpoint()
      if (!novel.isEmpty) {
        // resurrect = novel ∩ tombstones (takedown-sized)
        val resurrect =
          if (segments(s, path, "tombs").isEmpty) None
          else Some(novel.select(key)
              .join(broadcast(tombs(s, path, key)), Seq(key), "left_semi")
              .localCheckpoint()).filter(!_.isEmpty)
        val fresh = resurrect.fold(novel)(r =>
          novel.join(broadcast(r), Seq(key), "left_anti"))
        if (!fresh.isEmpty) writeRows(fresh, k)
        resurrect.foreach(writeTombs(_, path, k, Untomb))
        beforeCommit(k, Some(novel))
        commit(s, path, k)
      }
    }
  }

  /** Under the caller's writer: one committed tombstone segment for the
    * ids of one-column `ids`, which the caller restricts to ids not yet
    * tombstoned (so a replay appends nothing).
    */
  def tomb(s: SparkSession, path: String, ids: DataFrame): Unit = {
    val novel = ids.localCheckpoint()
    if (!novel.isEmpty) {
      val k = next(s, path)
      writeTombs(novel, path, k, Tomb)
      commit(s, path, k)
    }
  }

  /** Compaction and retrain: under the ledger's writer, and only if
    * `when` holds there, `build` writes a whole new ledger into the
    * staging dir — its segment-0 sub-tables plus any side dirs — from
    * the live one; seg=0 is committed and the staging swapped in
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
