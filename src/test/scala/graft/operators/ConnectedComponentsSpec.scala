package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def labelsOf(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(
      nodes.toDF("id"), edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Runs `body` with the broadcast threshold at `value` (-1 forces
    * the distributed loop at any size), restoring the caller's value. */
  private def withThreshold[T](value: Long)(body: => T): T = {
    val prior = spark.conf.getOption(threshold)
    spark.conf.set(threshold, value)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(threshold, v)
      case None => spark.conf.unset(threshold)
    }
  }

  private def distributed[T](body: => T): T = withThreshold(-1L)(body)

  /** Union-find reference over the non-null edges: every id in `nodes`
    * labeled with the min id of its component, absent endpoints
    * included. */
  private def reference(nodes: Seq[Long],
      edges: Seq[(Option[Long], Option[Long])]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach {
      case (Some(a), Some(b)) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ =>
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("a 200-node chain converges (pointer jumping beats O(diameter))") {
    // plain propagation needs ~200 rounds here; pointer jumping ~8
    val nodes = (0L until 200L)
    val edges = (0L until 199L).map(i => (i, i + 1))
    val labels = distributed(labelsOf(nodes, edges, maxIter = 15))
    labels.values.toSet shouldBe Set(0L)
  }

  test("separate components keep separate min labels; isolates are own") {
    val labels = labelsOf(
      nodes = Seq(1L, 2L, 3L, 10L, 11L, 50L),
      edges = Seq((2L, 3L), (10L, 11L), (3L, 1L)))
    labels(1L) shouldBe 1L
    labels(2L) shouldBe 1L
    labels(3L) shouldBe 1L
    labels(10L) shouldBe 10L
    labels(11L) shouldBe 10L
    labels(50L) shouldBe 50L // isolated node labels itself
  }

  test("non-convergence raises instead of returning wrong labels") {
    val nodes = (0L until 64L)
    val edges = (0L until 63L).map(i => (i, i + 1))
    an[IllegalStateException] should be thrownBy
      distributed(labelsOf(nodes, edges, maxIter = 2))
  }

  test("singletons never enter the iteration (edge-restricted loop)") {
    // one tiny component + many isolated nodes: rounds operate on the
    // 3 edge nodes only — the contract that makes CC corpus-scale-free
    import spark.implicits._
    val nodes = (0L until 5000L).toDF("id")
    val edges = Seq((4997L, 4998L), (4998L, 4999L)).toDF("src", "dst")
    val out = ConnectedComponents.run(nodes, edges)
    out.count() shouldBe 5000
    out.filter(org.apache.spark.sql.functions.col("id") >= 4997L)
      .collect().map(_.getLong(1)).toSet shouldBe Set(4997L)
    // spot-check singleton self-labels
    out.filter(org.apache.spark.sql.functions.col("id") === 123L)
      .collect()(0).getLong(1) shouldBe 123L
  }

  test("superseded rounds release their storage (bounded block count)") {
    // a ~10-round chain: without per-round release, every round's label
    // table would stay persisted until the query ends — at 100 TB that
    // is rounds × |labels| of executor storage held for nothing
    import spark.implicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val nodes = (0L until 400L).toDF("id")
    val edges = (0L until 399L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = distributed(ConnectedComponents.run(nodes, edges))
    out.collect().length shouldBe 400
    // left alive: the symmetric edge list + the final round's labels
    // (still feeding `out`) — NOT one table per round
    spark.sparkContext.getPersistentRDDs.size should be <= 3
  }

  test("random graphs match a union-find reference") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 150
      val nodes = (0L until n.toLong)
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      withClue(s"trial $trial: ") {
        labelsOf(nodes, edges) shouldBe
          reference(nodes, edges.map { case (a, b) => (Some(a), Some(b)) })
      }
    }
  }

  test("reliable checkpoint mode yields identical labels and writes rounds") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    try {
      val nodes = (0L until 500L).toDF("id")
      val edges = (0L until 499L).map(i => (i, i + 1)).toDF("src", "dst")
      val out = distributed(ConnectedComponents.run(nodes, edges,
        checkpointDir = Some(dir)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.values.toSet shouldBe Set(0L)
      out.size shouldBe 500
      // rounds really went through the reliable store, not executor RAM
      def rddFiles(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(rddFiles).sum
        else if (f.getName.startsWith("part-")) 1 else 0
      rddFiles(new java.io.File(dir)) should be > 0
    } finally {
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir))
    }
  }

  test("a 20k-node chain converges within the O(log diameter) budget") {
    // diameter 20000: plain min-propagation needs ~20000 rounds;
    // pointer jumping must land well under 2·log2(20000) ≈ 29
    val nodes = (0L until 20000L)
    val edges = (0L until 19999L).map(i => (i, i + 1))
    val labels = distributed(labelsOf(nodes, edges, maxIter = 29))
    labels.values.toSet shouldBe Set(0L)
    labels.size shouldBe 20000
  }

  test("local and forced-distributed paths give identical labels, equal " +
    "to a union-find reference (duplicates, both orientations, self-loops, " +
    "null endpoints, endpoints absent from nodes, isolated nodes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (1 to 4).foreach { trial =>
      val n = 120
      // ids 0..n-1 are nodes; n..n+9 appear only as edge endpoints
      val nodes = (0L until n.toLong).filter(_ % 17 != 5)
      def id() = rnd.nextInt(n + 10).toLong
      val base = Seq.fill(70)((id(), id()))
      val edges: Seq[(Option[Long], Option[Long])] =
        (base ++ base.take(10) ++ base.take(10).map(_.swap) ++
          Seq.fill(5) { val a = id(); (a, a) })
          .map { case (a, b) => (Option(a), Option(b)) } ++
          Seq((Some(3L), None), (None, Some(7L)), (None, None))
      val shuffled = rnd.shuffle(edges)
      def labels() = ConnectedComponents.run(nodes.toDF("id"),
          shuffled.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      val local = withThreshold(64L * 1024 * 1024)(labels())
      val loop = distributed(labels())
      withClue(s"trial $trial: ") {
        local shouldBe loop
        local.toMap shouldBe reference(nodes, shuffled)
        local.size shouldBe nodes.size
      }
    }
  }

  test("gate boundary: a cap-sized edge set runs locally in at most 2 jobs " +
    "and leaves no persistent RDD; one edge more runs the loop") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val k = 40
    val tag = "cc.gate.test"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    // a chain of m edges over m + 1 nodes: one component, label 0
    // skewed: every edge in the first of 4 partitions, past its share
    def runChain(m: Int,
        skewed: Boolean = false): (Int, Set[Long], Set[Int]) = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val nodes = (0L to m.toLong).toDF("id")
      val chain = (0L until m.toLong).map(i => (i, i + 1))
      val edges =
        if (skewed) sc.parallelize(chain, 1)
          .union(sc.parallelize(Seq.empty[(Long, Long)], 3)).toDF("src", "dst")
        else chain.toDF("src", "dst")
      jobs.set(0)
      sc.setLocalProperty(tag, "1")
      val out =
        try withThreshold(k * ConnectedComponents.BytesPerEdge)(
          ConnectedComponents.run(nodes, edges))
        finally sc.setLocalProperty(tag, null)
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      val ran = jobs.get
      val labels = out.collect().map(_.getLong(1)).toSet
      (ran, labels, sc.getPersistentRDDs.keySet.toSet)
    }
    sc.addSparkListener(listener)
    try {
      val (localJobs, localLabels, localPins) = runChain(k)
      localLabels shouldBe Set(0L)
      localJobs should be <= 2
      localPins shouldBe empty
      // the partition over its share is collected by one more job
      val (skewJobs, skewLabels, skewPins) = runChain(k, skewed = true)
      skewLabels shouldBe Set(0L)
      skewJobs shouldBe 2
      skewPins shouldBe empty
      val (loopJobs, loopLabels, _) = runChain(k + 1)
      loopLabels shouldBe Set(0L)
      // the counting job, round 0 and at least one round
      loopJobs should be >= 3
    } finally sc.removeSparkListener(listener)
  }
}
