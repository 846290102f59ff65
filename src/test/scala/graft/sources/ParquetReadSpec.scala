package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import graft.queries.{DedupOps, SimilarityOps}
import graft.state.SegmentLedger

/** [[Parquet.read]] must resolve exactly the schema Spark's own inference
  * would, on every layout graft reads, and must do it with no Spark job:
  * building a query over the star schema, or over a segmented ledger of
  * any length, launches none.
  */
class ParquetReadSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-parquet-$tag").toString

  private def sameSchema(paths: String*): Unit =
    Parquet.read(spark, paths: _*).schema shouldBe
      spark.read.parquet(paths: _*).schema

  /** Jobs launched from this thread while `body` runs (a thread-local
    * property keys the listener, so other threads' jobs are not counted).
    */
  private def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val tag = "graft.spec.parquetread"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == "1"))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try body
    finally {
      sc.setLocalProperty(tag, null)
      GraftBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("the schema equals spark.read.parquet's on every test table") {
    Tables.names.foreach(n => sameSchema(s"${TestSpark.sfDir}/$n.parquet"))
  }

  test("a multi-part dir with _SUCCESS and .crc files") {
    val p = s"${tmp("parts")}/t"
    spark.range(0, 300).select($"id", ($"id" * 3).cast("string").as("s"))
      .repartition(3).write.parquet(p)
    val names = new java.io.File(p).list().toSeq
    names should contain("_SUCCESS")
    assert(names.exists(_.endsWith(".crc")))
    assert(names.count(_.startsWith("part-")) == 3)
    sameSchema(p)
  }

  test("differing part files: both pick the first data file in path order") {
    val p = s"${tmp("drift")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(p)
    Seq((2L, 2.5, "b")).toDF("id", "x", "s").write.mode("append").parquet(p)
    sameSchema(p)
  }

  test("a partitionBy dir with int-looking values (s8's cid)") {
    val p = s"${tmp("cid")}/assign/seg-0"
    spark.range(0, 200).select($"id".as("vec_id"), ($"id" % 7).as("cid"),
        array($"id".cast("float")).as("embedding"))
      .write.partitionBy("cid").parquet(p)
    sameSchema(p)
    Parquet.read(spark, p).schema("cid").dataType shouldBe IntegerType
  }

  test("a hidden _tombstones sub-dir with another schema is not read") {
    val p = s"${tmp("tombs")}/ledger"
    spark.range(0, 50).select($"id".as("doc_id"),
        ($"id" % 4).cast("string").as("pfx"), md5($"id".cast("string"))
          .as("content_hash"))
      .write.partitionBy("pfx").parquet(p)
    // sorts before every pfx=… dir, and shares no column with the ledger
    Seq(("x", 1.0)).toDF("tomb", "w").write.parquet(s"$p/_tombstones")
    sameSchema(p)
    Parquet.read(spark, p).columns should not contain "tomb"
  }

  test("multi-path reads: several dirs, and a ledger's own files") {
    val root = tmp("multi")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$root/a")
    Seq((2L, "b")).toDF("id", "s").write.parquet(s"$root/b")
    sameSchema(s"$root/a", s"$root/b")
    val ledger = s"$root/ledger"
    spark.range(0, 40).select($"id", ($"id" % 3).as("pfx"))
      .write.partitionBy("pfx").parquet(ledger)
    sameSchema(spark.read.parquet(ledger).inputFiles.toIndexedSeq: _*)
  }

  test("a missing path and an empty dir fail as spark.read.parquet does") {
    def failure(read: => DataFrame): Class[_] =
      intercept[Exception](read).getClass
    val missing = s"${tmp("missing")}/nope"
    failure(Parquet.read(spark, missing)) shouldBe
      failure(spark.read.parquet(missing))
    val empty = tmp("empty")
    new java.io.File(s"$empty/_SUCCESS").createNewFile()
    failure(Parquet.read(spark, empty)) shouldBe
      failure(spark.read.parquet(empty))
  }

  test("a table rewritten with an added column is seen by the next load") {
    val dir = tmp("rewrite")
    val p = s"$dir/region.parquet"
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name").write.parquet(p)
    Tables.load(spark, dir, "region").columns.toSeq shouldBe
      Seq("r_regionkey", "r_name")
    Seq((0L, "AFRICA", "c")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(p)
    Tables.load(spark, dir, "region").columns.toSeq shouldBe
      Seq("r_regionkey", "r_name", "r_comment")
  }

  test("a TIMESTAMP(NANOS) events table loads through the nanosAsLong " +
      "fallback, confs read at call time") {
    val path = s"${tmp("nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(path), new Configuration()))
      .withType(schema).build()
    val nanos = Seq(1700000000123456789L, 1700000001999999999L)
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally w.close()
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    def state = (spark.conf.getOption(flag), spark.conf.getAll.get(flag))
    val before = state
    intercept[Exception](Parquet.read(spark, path)).getClass shouldBe
      intercept[Exception](spark.read.parquet(path)).getClass
    val loaded = Tables.loadEvents(spark, path).orderBy("event_id")
    loaded.select("ts_ms").as[Long].collect().toSeq shouldBe
      nanos.map(_ / 1000000L)
    // the fallback leaves the caller's session as it found it
    state shouldBe before
    spark.conf.set(flag, "true")
    try Parquet.read(spark, path).schema shouldBe
      spark.read.parquet(path).schema
    finally before._2.fold(spark.conf.unset(flag))(spark.conf.set(flag, _))
  }

  test("building q1–q5 and q29 at sf0.01 launches no job") {
    val dir = s"${new java.io.File(TestSpark.sfDir).getParent}/sf0.01"
    // q23 keeps GlobalOrder's offsets job and the 2 jobs upstream of it;
    // its row count comes from the offsets job
    (Seq("q1_agg", "q2_filter_project", "q3_join_broadcast", "q4_star_join",
        "q5_window_rank", "q29_sessionize").map(_ -> 0) :+
        ("q23_percentiles" -> 3)).foreach { case (q, bound) =>
      withClue(s"$q: ") {
        jobsDuring(spark)(graft.SparkEntry.queries(q)(spark, dir)) should
          be <= bound
      }
    }
  }

  test("building s8Assign launches no job at 2 segments and at 6") {
    val root = tmp("seg")
    val (s8, s10, d13) = (s"$root/s8_ivf", s"$root/s10_knn", s"$root/d13")
    val d9 = s"$root/d9"
    def hashes(d: org.apache.spark.sql.DataFrame) =
      d.select(md5(col("text")).as("content_hash"))
    val emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding")
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    def append(upTo: Int): Unit = {
      SimilarityOps.refreshIvfLedger(spark, s8,
        emb.filter(col("vec_id") % 6 < upTo))
      SimilarityOps.refreshKnnLedger(spark, s10,
        emb.filter(col("vec_id") % 6 < upTo))
      DedupOps.refreshNearDupLedger(spark, d13,
        docs.filter(col("doc_id") % 6 < upTo))
      DedupOps.refreshLedger(spark, d9,
        hashes(docs.filter(col("doc_id") % 6 === upTo - 1)))
    }
    def buildJobs(): Seq[Int] = Seq(
      jobsDuring(spark)(SimilarityOps.s8Assign(spark, s8, None)),
      jobsDuring(spark)(DedupOps.readBandLedger(spark, d13)),
      jobsDuring(spark)(SimilarityOps.s10Graph(spark, s10, None)),
      jobsDuring(spark)(DedupOps.readHashLedger(spark, d9)))
    (1 to 2).foreach(append)
    // d9's log: one tomb segment
    DedupOps.removeFromHashLedger(spark, d9,
      hashes(docs.filter(col("doc_id") === 0)))
    // d13's log: tomb docs 0 and 6, then untomb doc 0 (re-ingested)
    DedupOps.removeFromBandLedger(spark, d13, Seq(0L, 6L).toDF("doc_id"))
    DedupOps.refreshNearDupLedger(spark, d13, docs.filter(col("doc_id") === 0))
    SegmentLedger.segments(spark, s8, "assign") shouldBe Seq(0, 1)
    SegmentLedger.segments(spark, s10, "edges") shouldBe Seq(0, 1)
    SegmentLedger.segments(spark, d13, "index") shouldBe Seq(0, 1)
    SegmentLedger.segments(spark, d13, "tombs") shouldBe Seq(2, 3)
    SegmentLedger.segments(spark, d9, "hashes") shouldBe Seq(0, 1)
    SegmentLedger.segments(spark, d9, "tombs") shouldBe Seq(2)
    val atTwo = buildJobs()
    DedupOps.readBandLedger(spark, d13).filter(col("doc_id").isin(0L, 6L))
      .select("doc_id").as[Long].collect().toSeq shouldBe Seq(0L)
    (3 to 6).foreach(append)
    SegmentLedger.segments(spark, s8, "assign") shouldBe (0 to 5)
    SegmentLedger.segments(spark, s10, "edges") shouldBe (0 to 5)
    SegmentLedger.segments(spark, d13, "index").size shouldBe 6
    SegmentLedger.segments(spark, d9, "hashes").size shouldBe 6
    val atSix = buildJobs()
    (atTwo, atSix) shouldBe ((Seq(0, 0, 0, 0), Seq(0, 0, 0, 0)))
    SimilarityOps.s8Assign(spark, s8, None).count() shouldBe emb.count()
  }
}
