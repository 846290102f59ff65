package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class GlobalOrderSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  test("withGlobalRank equals the single-partition window rank") {
    import spark.implicits._
    val df = spark.range(0, 1000).select(
      (col("id") * 2654435761L % 1000).as("key"), col("id"))
    val viaOp = GlobalOrder
      .withGlobalRank(df, Seq(col("key"), col("id")), "r")
      .select(col("id"), col("r"))
    val viaWindow = df.select(col("id"),
      row_number().over(Window.orderBy(col("key"), col("id")))
        .cast("long").as("r"))
    viaOp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      viaWindow.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("withGlobalRank spreads rows across partitions (no 1-partition wall)") {
    // AQE legitimately coalesces this tiny dataset to one partition, so
    // pin coalescing off to observe the structural partitioning
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val df = spark.range(0, 10000).toDF("id")
      val ranked = GlobalOrder.withGlobalRank(df, Seq(col("id")), "r")
      ranked.rdd.getNumPartitions should be > 1
      // ranks are a permutation of 1..N
      ranked.agg(min("r"), max("r"), countDistinct("r")).collect()(0)
        .toSeq shouldBe Seq(1L, 10000L, 10000L)
    } finally spark.conf.unset(key)
  }

  test("withGroupedRank equals the per-group window rank and count") {
    val df = spark.range(0, 2000).select(
      concat(lit("src"), (col("id") % 7).cast("string")).as("g"), col("id"))
    val viaOp = GlobalOrder
      .withGroupedRank(df, Seq("g"), Seq(col("id")), "r", "n")
      .select("g", "id", "r", "n")
    val w = Window.partitionBy(col("g"))
    val viaWindow = df.select(col("g"), col("id"),
      row_number().over(w.orderBy(col("id"))).cast("long").as("r"),
      count(lit(1)).over(w).as("n"))
    viaOp.collect().map(_.toSeq).toSet shouldBe
      viaWindow.collect().map(_.toSeq).toSet
  }

  test("withGlobalCumSum equals the single-partition window running sum") {
    val df = spark.range(0, 5000).select(
      (col("id") * 2654435761L % 5000).as("key"), col("id"),
      (col("id") % 97 + 1).as("v"))
    val viaOp = GlobalOrder
      .withGlobalCumSum(df, Seq(col("key"), col("id")), "v", "cs")
      .select(col("id"), col("cs"))
    val w = Window.orderBy(col("key"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = df.select(col("id"), sum("v").over(w).as("cs"))
    viaOp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      viaWindow.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("withGroupedCumSum equals the per-group window running sum") {
    val df = spark.range(0, 3000).select(
      concat(lit("src"), (col("id") % 7).cast("string")).as("g"), col("id"),
      (col("id") * 2654435761L % 89 + 1).as("v"))
    val viaOp = GlobalOrder
      .withGroupedCumSum(df, Seq("g"), Seq(col("id")), "v", "cs")
      .select("g", "id", "v", "cs")
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = df.select(col("g"), col("id"), col("v"),
      sum("v").over(w).as("cs"))
    viaOp.collect().map(_.toSeq).toSet shouldBe
      viaWindow.collect().map(_.toSeq).toSet
  }

  test("withGlobalCumSum fails fast: a non-LONG value column at build, a null value at run") {
    val ints = spark.range(0, 100).select(col("id"), col("id").cast("int").as("v"))
    val typed = intercept[IllegalArgumentException] {
      GlobalOrder.withGlobalCumSum(ints, Seq(col("id")), "v", "cs")
    }
    typed.getMessage should include("value column 'v' must be LONG")
    val nulls = spark.range(0, 100).select(col("id"),
      when(col("id") =!= 37, col("id")).as("v"))
    // the offsets job may already see the null while the frame is built,
    // so the build and the action are one failing unit
    val failed = intercept[Exception] {
      GlobalOrder.withGlobalCumSum(nulls, Seq(col("id")), "v", "cs").collect()
    }
    Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage))
      .exists(_.contains("null in value column 'v'")) shouldBe true
  }

  test("the offsets job reads the shuffle output, not the sorted stage") {
    // the r22 stage floor: the offsets job's result stage must hold only
    // the shuffle-reading RDD, so the within-partition sort runs once
    val sc = spark.sparkContext
    val tag = "globalorder.spec.offsets"
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == "1"))
          stages.add(e.stageInfos.maxBy(_.stageId).rddInfos.map(_.name))
    }
    val df = spark.range(0, 2000).select(
      (col("id") * 2654435761L % 2000).as("key"), col("id"))
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val ranked =
      try GlobalOrder.withGlobalRank(df, Seq(col("key"), col("id")), "r")
      finally {
        sc.setLocalProperty(tag, null)
        org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
        sc.removeSparkListener(listener)
      }
    import scala.jdk.CollectionConverters._
    val offsetsJob = stages.asScala.toSeq.lastOption
    offsetsJob shouldBe Some(Seq("ShuffledRowRDD"))
    ranked.agg(min("r"), max("r"), countDistinct("r")).collect()(0)
      .toSeq shouldBe Seq(1L, 2000L, 2000L)
  }

  test("q23 formula matches window ntile on the real table") {
    val dir = TestSpark.sfDir
    val viaQuery = graft.SparkEntry.queries("q23_percentiles")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val o = graft.sources.Tables.load(spark, dir, "orders")
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    val viaNtile = o
      .select(col("o_totalprice"), ntile(4).over(w).cast("long").as("quartile"))
      .groupBy("quartile")
      .agg(min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"),
        count(lit(1)).as("n"))
      .orderBy("quartile").collect().map(_.toSeq).toSeq
    viaQuery shouldBe viaNtile
  }
}
