package graft.state

import java.io.IOException
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, ConcurrentHashMap,
  ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.queries.{DedupOps, SimilarityOps}

/** The local file system with injected crashes. A crash is armed per
  * watched dir (a family dir holding one ledger and its siblings): it
  * trips at the k-th rename, delete or mkdirs under that dir (Spark's
  * `_temporary` commit scratch and the parent mkdirs inside a file
  * create are not counted), or at the first data-file create under it
  * (inside the writer's staging or segment write). From then on every
  * call under the dir throws, so no in-process compensation can touch
  * the ledger after the "crash".
  */
class FaultFs extends LocalFileSystem {
  import FaultFs._
  override def rename(src: Path, dst: Path): Boolean = {
    step(src); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    step(p); super.delete(p, recursive)
  }
  override def mkdirs(p: Path): Boolean = { step(p); super.mkdirs(p) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = {
    step(p); super.mkdirs(p, perm)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      buf: Int, rep: Short, block: Long,
      prog: Progressable): FSDataOutputStream = {
    created(p)
    inCreate.set(true)
    try super.create(p, perm, overwrite, buf, rep, block, prog)
    finally inCreate.set(false)
  }
  override def getFileStatus(p: Path): FileStatus = {
    alive(p); super.getFileStatus(p)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    alive(p); super.listStatus(p)
  }
  override def open(p: Path, buf: Int): FSDataInputStream = {
    alive(p); super.open(p, buf)
  }
}

object FaultFs {
  final class Crash(val at: Int, onWrite: Boolean) {
    val ops = new AtomicInteger
    @volatile var tripped = false
    @volatile var onWriteArmed: Boolean = onWrite
  }

  private val armed = new ConcurrentHashMap[String, Crash]
  private val inCreate = ThreadLocal.withInitial[Boolean](() => false)

  def arm(dir: String, at: Int, onWrite: Boolean): Crash = {
    val c = new Crash(at, onWrite); armed.put(dir, c); c
  }

  def disarm(dir: String): Unit = armed.remove(dir)

  private def crashOf(p: Path): Option[Crash] = {
    val s = p.toUri.getPath
    armed.asScala.collectFirst { case (d, c) if s.startsWith(d + "/") => c }
  }

  private def trip(c: Crash): Nothing = {
    c.tripped = true
    throw new IOException("injected crash: writer is dead")
  }

  /** Spark's own commit scratch: task attempt dirs and the per-job
    * `.spark-staging-*` dirs of partitioned writes.
    */
  private def sparkScratch(p: Path): Boolean = {
    val s = p.toUri.getPath
    s.contains("/_temporary") || s.contains("/.spark-staging-")
  }

  def alive(p: Path): Unit = crashOf(p).filter(_.tripped).foreach(trip)

  def step(p: Path): Unit = crashOf(p).foreach { c =>
    if (c.tripped || (!sparkScratch(p) &&
        !inCreate.get && c.ops.incrementAndGet() == c.at)) trip(c)
  }

  def created(p: Path): Unit = crashOf(p).foreach { c =>
    if (c.tripped) trip(c)
    if (c.onWriteArmed && p.getName.startsWith("part-")) {
      c.onWriteArmed = false; trip(c)
    }
  }
}

/** Every crash point of every ledger writer, driven through
  * [[FaultFs]] over sf0.001-sized ledgers: after the injected crash the
  * "dead" process's locks name a dead pid, and the next writer (one
  * with nothing to add) must reclaim the lock, heal and complete,
  * leaving the ledger reading exactly its pre-call or post-call content.
  * A lock naming a live pid or another host must be refused by name.
  */
class LedgerStateFaultSpec extends AnyFunSuite with Matchers
    with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private lazy val conf = spark.sparkContext.hadoopConfiguration
  private val root = s"/tmp/graft_state/graft_fault_${java.util.UUID
    .randomUUID().toString.take(8)}"

  override def beforeAll(): Unit = {
    conf.set("fs.file.impl", classOf[FaultFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  override def afterAll(): Unit = {
    runs.values.foreach(r => scala.util.Try(r.get()))
    pool.shutdown()
    conf.unset("fs.file.impl")
    conf.unset("fs.file.impl.disable.cache")
    rm(new java.io.File(root))
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private lazy val docs = graft.sources.Tables.load(spark, TestSpark.sfDir,
    "documents").select("doc_id", "text")
  private lazy val emb = graft.sources.Tables.load(spark, TestSpark.sfDir,
    "embeddings").select("vec_id", "embedding")
  private def hashes(d: DataFrame) =
    d.select(md5(col("text")).as("content_hash")).distinct()
  private def ids(d: DataFrame, c: String) = d.select(col(c))

  /** A pid no process holds: a finished child's. */
  private lazy val deadPid: Long = {
    val p = new ProcessBuilder("true").start()
    p.waitFor()
    p.pid()
  }

  private def plantLock(path: String, holder: String): Unit =
    Files.write(Paths.get(LedgerState.lockPath(path).toString),
      holder.getBytes("UTF-8"))

  /** One writer family: `setup` builds the pre-call ledger, `op` is the
    * writer under test, `noop` a writer of the same ledger with nothing
    * to add (it only takes the lock and heals), `read` the ledger's
    * content through its read seam.
    */
  private case class Family(name: String, setup: String => Unit,
      op: String => Unit, noop: String => Unit, read: String => Seq[String])

  private def hashRead(path: String): Seq[String] =
    DedupOps.readHashLedger(spark, path).select("content_hash").collect()
      .map(_.getString(0)).toSeq.sorted

  private def bandRead(path: String): Seq[String] =
    DedupOps.readBandLedger(spark, path).select("doc_id").collect()
      .map(_.getLong(0).toString).toSeq.sorted

  private def ivfRead(path: String): Seq[String] =
    SimilarityOps.s8Assign(spark, path, None)
      .join(SimilarityOps.s8Tombs(spark, path), Seq("vec_id"), "left_anti")
      .select("vec_id", "cid").collect().map(_.toString).toSeq.sorted

  private def knnRead(path: String): Seq[String] =
    SimilarityOps.s10Graph(spark, path, None).collect()
      .map(_.toString).toSeq.sorted

  private def hashNoop(path: String): Unit =
    DedupOps.refreshLedger(spark, path, hashes(docs.limit(0)))
  private def bandNoop(path: String): Unit =
    DedupOps.refreshNearDupLedger(spark, path, docs.limit(0))
  private def ivfNoop(path: String): Unit =
    SimilarityOps.refreshIvfLedger(spark, path, emb.limit(0))
  private def knnNoop(path: String): Unit =
    SimilarityOps.refreshKnnLedger(spark, path, emb.limit(0))

  private val some = col("doc_id") % 3 =!= 0
  private val taken = col("doc_id") % 7 === 2
  private val reclaimed = col("doc_id") % 167 === 2 // 3 hash prefixes
  private val seed = col("vec_id") % 4 === 0
  private val gone = col("vec_id") % 7 === 1

  private lazy val families = Seq(
    Family("d9_refresh",
      p => DedupOps.refreshLedger(spark, p, hashes(docs.filter(some))),
      p => DedupOps.refreshLedger(spark, p, hashes(docs)),
      hashNoop, hashRead),
    Family("d16_bloomed_refresh",
      p => DedupOps.refreshLedgerBloomed(spark, p, hashes(docs.filter(some))),
      p => DedupOps.refreshLedgerBloomed(spark, p, hashes(docs)),
      p => DedupOps.refreshLedgerBloomed(spark, p, hashes(docs.limit(0))),
      hashRead),
    Family("d9_compaction",
      p => {
        DedupOps.refreshLedger(spark, p, hashes(docs.filter(some)))
        DedupOps.refreshLedger(spark, p, hashes(docs))
      },
      p => DedupOps.compactLedger(spark, p), hashNoop, hashRead),
    Family("d9_takedown",
      p => DedupOps.refreshLedger(spark, p, hashes(docs)),
      p => DedupOps.removeFromHashLedger(spark, p,
        hashes(docs.filter(reclaimed))),
      hashNoop, hashRead),
    Family("d13_refresh",
      p => {
        DedupOps.refreshNearDupLedger(spark, p, docs.filter(some))
        DedupOps.removeFromBandLedger(spark, p,
          ids(docs.filter(col("doc_id") % 5 === 1), "doc_id"))
      },
      p => DedupOps.refreshNearDupLedger(spark, p,
        docs.filter(col("doc_id") % 10 =!= 1)),
      bandNoop, bandRead),
    Family("d13_takedown",
      p => DedupOps.refreshNearDupLedger(spark, p, docs),
      p => DedupOps.removeFromBandLedger(spark, p,
        ids(docs.filter(taken), "doc_id")),
      bandNoop, bandRead),
    Family("d13_compaction",
      p => {
        DedupOps.refreshNearDupLedger(spark, p, docs.filter(some))
        DedupOps.refreshNearDupLedger(spark, p, docs)
        DedupOps.removeFromBandLedger(spark, p,
          ids(docs.filter(taken), "doc_id"))
      },
      p => DedupOps.compactBandLedger(spark, p), bandNoop, bandRead),
    Family("s8_append",
      p => SimilarityOps.refreshIvfLedger(spark, p, emb.filter(seed)),
      p => SimilarityOps.refreshIvfLedger(spark, p, emb),
      ivfNoop, ivfRead),
    Family("s8_tombstone",
      p => SimilarityOps.refreshIvfLedger(spark, p, emb),
      p => SimilarityOps.tombstoneIds(spark, p,
        ids(emb.filter(gone), "vec_id")),
      ivfNoop, ivfRead),
    Family("s8_compaction",
      p => {
        SimilarityOps.refreshIvfLedger(spark, p, emb.filter(seed))
        SimilarityOps.refreshIvfLedger(spark, p, emb)
        SimilarityOps.tombstoneIds(spark, p, ids(emb.filter(gone), "vec_id"))
      },
      p => SimilarityOps.compactIvfLedger(spark, p), ivfNoop, ivfRead),
    Family("s8_retrain",
      p => {
        SimilarityOps.refreshIvfLedger(spark, p, emb.filter(seed))
        SimilarityOps.refreshIvfLedger(spark, p, emb)
      },
      p => SimilarityOps.retrainIvfLedger(spark, p), ivfNoop, ivfRead),
    Family("s10_append",
      p => SimilarityOps.refreshKnnLedger(spark, p, emb.filter(seed)),
      p => SimilarityOps.refreshKnnLedger(spark, p, emb),
      knnNoop, knnRead),
    Family("s10_compaction",
      p => {
        SimilarityOps.refreshKnnLedger(spark, p, emb.filter(seed))
        SimilarityOps.refreshKnnLedger(spark, p, emb)
        SimilarityOps.tombstoneIds(spark, p, ids(emb.filter(gone), "vec_id"))
      },
      p => SimilarityOps.compactKnnLedger(spark, p), knnNoop, knnRead),
    Family("s10_retrain",
      p => {
        SimilarityOps.refreshKnnLedger(spark, p, emb.filter(seed))
        SimilarityOps.refreshKnnLedger(spark, p, emb)
      },
      p => SimilarityOps.retrainKnnLedger(spark, p), knnNoop, knnRead))

  /** The crash's aftermath as another process sees it: no job of the
    * dead writer still running, the file system back, and every lock
    * the writer held (its ledger's, and a nested staging writer's)
    * naming a dead pid on this host.
    */
  private def crash(fam: String, dir: String, path: String): Unit = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    while (sc.statusTracker.getJobIdsForGroup(fam).exists(id =>
        sc.statusTracker.getJobInfo(id).exists(_.status ==
          org.apache.spark.JobExecutionStatus.RUNNING)) &&
        System.nanoTime() - t0 < 30e9.toLong) Thread.sleep(20)
    FaultFs.disarm(dir)
    val dead = s"$deadPid@${LedgerState.localHost}"
    plantLock(path, dead)
    Files.walk(Paths.get(dir)).filter(_.getFileName.toString
      .endsWith(LedgerState.lockPath("").getName)).forEach { l =>
      Files.write(l, dead.getBytes("UTF-8"))
    }
  }

  /** Run one family end to end — setup, refusals, then every crash
    * point — in its own Spark job group.
    */
  private def exercise(f: Family): Unit = {
    spark.sparkContext.setJobGroup(f.name, f.name, interruptOnCancel = false)
    val famDir = s"$root/${f.name}"
    val tpl = s"$famDir/tpl"
    val run = s"$famDir/run"
    val path = s"$run/ledger"
    f.setup(s"$tpl/ledger")
    def fresh(): Unit = {
      rm(new java.io.File(run)); copyTree(tpl, run)
      spark.catalog.refreshByPath(path)
    }

    fresh()
    val pre = f.read(path)
    // a lock held by a live process, or by one on another host, is
    // never reclaimed: the writer refuses and names the holder
    for (holder <- Seq(s"${ProcessHandle.current().pid()}@" +
        LedgerState.localHost, "1@another-host.invalid")) {
      plantLock(path, holder)
      val e = the[LedgerBusy] thrownBy f.op(path)
      e.getMessage should include(holder)
      new String(Files.readAllBytes(Paths.get(
        LedgerState.lockPath(path).toString)), "UTF-8") shouldBe holder
      Files.delete(Paths.get(LedgerState.lockPath(path).toString))
    }

    // crash at the k-th counted op for k = 1, 2, … until a run never
    // reaches k: that run is the clean one and gives the post state;
    // then once more inside the data write
    def crashAt(k: Int, onWrite: Boolean): Option[Seq[String]] = {
      fresh()
      val c = FaultFs.arm(run, k, onWrite)
      val tripped = try { f.op(path); false }
        catch { case _: Throwable if c.tripped => true }
      if (!tripped) { FaultFs.disarm(run); None }
      else {
        crash(f.name, run, path)
        f.noop(path)
        new java.io.File(LedgerState.lockPath(path).toString)
          .exists() shouldBe false
        Some(f.read(path))
      }
    }
    val healed = Iterator.from(1).map(k => s"op $k" -> crashAt(k, false))
      .takeWhile(_._2.isDefined).map { case (at, r) => at -> r.get }.toList
    val post = f.read(path)
    val atWrite = crashAt(Int.MaxValue, onWrite = true)
    withClue(s"${f.name}: ") {
      healed should not be empty
      atWrite shouldBe defined
    }
    for ((at, read) <- healed :+ ("the data write" -> atWrite.get))
      assert(read == pre || read == post, s"${f.name} crash at $at of " +
        s"${healed.size} ops reads ${read.size} rows: " +
        s"+${read.diff(pre).size}/-${pre.diff(read).size} against pre, " +
        s"+${read.diff(post).size}/-${post.diff(read).size} against post")
  }

  // families run four at a time, the heavy s10/s8 ones first; each
  // test reports one family
  private lazy val pool = Executors.newFixedThreadPool(4)
  private lazy val runs = families
    .sortBy(f => (!f.name.startsWith("s10"), !f.name.startsWith("s8")))
    .map(f => f.name -> pool.submit(new Callable[Unit] {
      def call(): Unit = exercise(f)
    })).toMap

  for (fam <- families.map(_.name))
    test(s"$fam: every crash point heals to the pre- or post-call " +
        "ledger; live and foreign locks are refused by name") {
      try runs(fam).get()
      catch { case e: ExecutionException => throw e.getCause }
    }
}
