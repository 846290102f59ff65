package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.TestSpark
import HashFunctions._
import VectorFunctions._

class FunctionsSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private def eval1(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).collect()(0).get(0)

  test("minhash signature: k slots, deterministic, set-based") {
    val keys = array(lit(11L), lit(-7L), lit(42L), lit(5L))
    val sig1 = eval1(minhashSignature(keys, 16))
      .asInstanceOf[scala.collection.Seq[Long]]
    sig1.length shouldBe 16
    eval1(minhashSignature(keys, 16)) shouldBe sig1
    // a set function: key order and repeats do not change it
    eval1(minhashSignature(
      array(lit(5L), lit(42L), lit(11L), lit(-7L), lit(42L)), 16)) shouldBe sig1
    // the per-row signature is bit-identical to the aggregate build
    import spark.implicits._
    val sets = Seq((1L, Seq(11L, -7L, 42L, 5L)), (2L, Seq(3L, 9L)))
      .toDF("doc_id", "sh")
    val agg = graft.queries.DedupOps.minhashSigs(sets).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val perRow = sets.select(col("doc_id"),
        minhashSignature(col("sh"), graft.queries.DedupOps.mhK))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    perRow shouldBe agg
  }

  test("band keys: bands × rows partition of the signature") {
    val keys = eval1(bandKeys(minhashSignature(
      array(lit(1L), lit(2L)), 16), 4, 4)).asInstanceOf[scala.collection.Seq[Long]]
    keys.length shouldBe 4
  }

  test("hamming64 is xor popcount") {
    eval1(hamming64(lit(0L), lit(-1L))) shouldBe 64L
    eval1(hamming64(lit(5L), lit(6L))) shouldBe 2L
    eval1(hamming64(lit(7L), lit(7L))) shouldBe 0L
  }

  test("native pq_encode matches a plain-Scala reference, incl. ties") {
    // deterministic mini-setup: 40 vectors of dim 8, M=2 subspaces,
    // K=4 centroids — reference computes the same ascending-code
    // strict-< argmin with float→double promotion, left-to-right sums
    val m = 2; val k = 4; val dim = 8; val subDim = dim / m
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(40)(i =>
      i.toLong -> Array.fill(dim)(rnd.nextFloat() - 0.5f))
    // centroids include DUPLICATES (codes 2 and 3 identical) so the
    // tie-break arm is actually exercised
    val cents = Seq.tabulate(m, k)((s, c) =>
      if (c == 3) Seq.tabulate(subDim)(j => (s + 2 * j).toDouble / 10)
      else if (c == 2) Seq.tabulate(subDim)(j => (s + 2 * j).toDouble / 10)
      else Seq.fill(subDim)(rnd.nextDouble() - 0.5))
    def refCodes(v: Array[Float]): Seq[Int] =
      (0 until m).map { s =>
        var bd = Double.MaxValue; var bc = -1
        for (c <- 0 until k) {
          var d = 0.0
          for (j <- 0 until subDim) {
            val t = v(s * subDim + j).toDouble - cents(s)(c)(j)
            d += t * t
          }
          if (d < bd) { bd = d; bc = c }
        }
        bc
      }
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val out = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), column(graft.functions.PqEncode(
        expression(col("embedding")),
        expression(typedLit(cents.flatten.flatten)), m, k)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      withClue(s"vec $id: ") { out(id) shouldBe refCodes(v) }
    }
    // ties resolve to the LOWEST code: duplicate centroids mean code 3
    // can never be emitted
    out.values.flatten.toSet should not contain 3
  }

  test("pq_encode rejects vector/codebook lengths inconsistent with m,k") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge.{column, expression}
    val cb = Seq.fill(2 * 4 * 4)(0.5) // m=2, k=4, subDim=4 → dim 8
    def enc(dim: Int) = Seq(1L -> Array.fill(dim)(0.1f))
      .toDF("vec_id", "embedding")
      .select(column(graft.functions.PqEncode(
        expression(col("embedding")),
        expression(typedLit(cb)), 2, 4)).as("codes"))
    enc(8).collect() should have length 1 // consistent: fine
    // dim 7 (not a multiple of m) and dim 6 (m*subDim != codebook
    // layout) must fail LOUDLY, not silently drop trailing dimensions
    for (bad <- Seq(7, 6)) withClue(s"dim $bad: ") {
      val e = intercept[Exception](enc(bad).collect())
      (e.getMessage + Option(e.getCause).mkString)
        .should(include("pq_encode"))
    }
  }

  test("native codegen dot is bit-identical to the HOF fold on real data") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val paired = e.as("a").crossJoin(e.limit(5).as("b"))
    val diffs = paired.select(
      dot(col("a.embedding"), col("b.embedding")).as("native"),
      dotHof(col("a.embedding"), col("b.embedding")).as("hof"))
      .filter(col("native") =!= col("hof"))
    diffs.count() shouldBe 0L
  }

  test("native hyperplane signature is bit-identical to the HOF fold") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // both the calibrated 4-bit and the scale-regime 8-bit widths, over
    // several table seeds (the d8/s2 usage pattern)
    val checks = for (bits <- Seq(4, 8); t <- 0 until 3) yield
      (hyperplaneSignature(col("embedding"), bits, 0xd8 + t) =!=
        hyperplaneSignatureHof(col("embedding"), bits, 0xd8 + t))
    e.filter(checks.reduce(_ || _)).count() shouldBe 0L
  }

  test("native rolling hash is bit-identical to the split/ascii HOF fold") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftBridge
    val mod = 1000000007L
    def nativeFp(c: org.apache.spark.sql.Column) =
      GraftBridge.column(RollingHash(GraftBridge.expression(c), 7L, 31L, mod))
    def hofFp(c: org.apache.spark.sql.Column) =
      aggregate(transform(split(c, ""),
          ch => ascii(ch).cast(org.apache.spark.sql.types.LongType)),
        lit(7L), (acc, x) => (acc * 31 + x) % mod)
    // the real corpus plus edge strings (empty, 1-char, non-ASCII)
    import spark.implicits._
    val edge = Seq("", "a", "Zzz", "héllo wörld", "tab\tand\nnewline")
      .toDF("text")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("text")).unionByName(edge)
    docs.filter(nativeFp(col("text")) =!= hofFp(col("text")))
      .count() shouldBe 0L
  }

  test("native word-gram hashes are bit-identical to the HOF chain") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftBridge
    def native(c: org.apache.spark.sql.Column, n: Int, ds: Boolean) =
      GraftBridge.column(WordGramHashes(GraftBridge.expression(c), n, ds))
    def hof(c: org.apache.spark.sql.Column, n: Int, ds: Boolean) = {
      val wh = transform(split(c, " "), w => xxhash64(w))
      val grams = when(org.apache.spark.sql.functions.size(wh) >= n,
        transform(sequence(lit(1),
            org.apache.spark.sql.functions.size(wh) - (n - 1)),
          i => xxhash64((0 until n).map(k =>
            element_at(wh, i + k)): _*)))
        .otherwise(array().cast("array<bigint>"))
      if (ds) array_sort(array_distinct(grams)) else grams
    }
    import spark.implicits._
    val edge = Seq("", "one", "a b", "a b c", "x  y z ", "dup dup dup dup")
      .toDF("text")
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("text")).unionByName(edge)
    for (n <- Seq(2, 3, 4); ds <- Seq(true, false))
      withClue(s"n=$n distinctSorted=$ds: ") {
        docs.filter(native(col("text"), n, ds) =!= hof(col("text"), n, ds))
          .count() shouldBe 0L
      }
  }

  test("native sorted intersect count equals size(array_intersect) on real data") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.GraftBridge
    def grams(c: org.apache.spark.sql.Column) =
      GraftBridge.column(WordGramHashes(GraftBridge.expression(c), 3, true))
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), grams(col("text")).as("sh"))
    val pairs = d.as("a").crossJoin(d.limit(30).as("b"))
      .select(col("a.sh").as("x"), col("b.sh").as("y"))
    val native = GraftBridge.column(SortedLongIntersectCount(
      GraftBridge.expression(col("x")), GraftBridge.expression(col("y"))))
    pairs.filter(native =!=
        org.apache.spark.sql.functions.size(array_intersect(col("x"), col("y"))))
      .count() shouldBe 0L
  }

  test("native first_equal_index equals the HOF position fold on real signatures") {
    import org.apache.spark.sql.functions._
    // real multi-table hyperplane signatures over the test embeddings —
    // the exact input shape of the d8/d10 first-collision filter
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .select(col("vec_id"),
        array((0 until 8).map(t =>
          VectorFunctions.hyperplaneSignature(col("embedding"), 4,
            0xd8 + t)): _*).as("sigs"))
    val pairs = e.as("a").crossJoin(e.limit(30).as("b"))
      .select(col("a.sigs").as("x"), col("b.sigs").as("y"))
    pairs.filter(
        VectorFunctions.firstEqualIndex(col("x"), col("y")) =!=
          VectorFunctions.firstEqualIndexHof(col("x"), col("y")))
      .count() shouldBe 0L
    // sentinel + boundary cases
    eval1(VectorFunctions.firstEqualIndex(
      array(lit(1L), lit(2L)), array(lit(3L), lit(2L)))) shouldBe 1
    eval1(VectorFunctions.firstEqualIndex(
      array(lit(1L), lit(2L)), array(lit(3L), lit(4L)))) shouldBe -1
    eval1(VectorFunctions.firstEqualIndex(
      array(lit(7L)), array(lit(7L), lit(9L)))) shouldBe 0
  }

  test("vector dot / norm / cosine match hand computation") {
    val a = array(lit(1.0f), lit(2.0f), lit(3.0f))
    val b = array(lit(4.0f), lit(-5.0f), lit(6.0f))
    eval1(dot(a, b)) shouldBe (1.0 * 4 + 2.0 * -5 + 3.0 * 6)
    eval1(norm(a)) shouldBe math.sqrt(14.0)
    eval1(cosine(a, a)).asInstanceOf[Double] shouldBe 1.0 +- 1e-12
    eval1(cosine(a, b)).asInstanceOf[Double] shouldBe
      (12.0 / (math.sqrt(14.0) * math.sqrt(77.0))) +- 1e-12
  }

  test("vector identities hold on random float vectors") {
    val rnd = new scala.util.Random(42)
    (0 until 25).foreach { _ =>
      val n = 1 + rnd.nextInt(16)
      val xs = Array.fill(n)(rnd.nextFloat() * 4 - 2)
      val ys = Array.fill(n)(rnd.nextFloat() * 4 - 2)
      val ax = array(xs.map(lit(_)): _*)
      val ay = array(ys.map(lit(_)): _*)
      // symmetry and Cauchy-Schwarz
      eval1(dot(ax, ay)) shouldBe eval1(dot(ay, ax))
      val c = eval1(cosine(ax, ay)).asInstanceOf[Double]
      c should (be >= -1.0000001 and be <= 1.0000001)
      // norm consistency: |v|² == v·v
      val nv = eval1(norm(ax)).asInstanceOf[Double]
      (nv * nv) shouldBe eval1(dot(ax, ax)).asInstanceOf[Double] +- 1e-9
    }
  }

  test("hyperplane signature: deterministic, bit-bounded, sign-flip aware") {
    val v = array(lit(0.5f), lit(-1.5f), lit(2.5f), lit(0.25f))
    val s1 = eval1(hyperplaneSignature(v, 16)).asInstanceOf[Long]
    val s2 = eval1(hyperplaneSignature(v, 16)).asInstanceOf[Long]
    s1 shouldBe s2
    (s1 & ~((1L << 16) - 1)) shouldBe 0L // only low 16 bits used
    // negating the vector flips every sign bit
    val neg = array(lit(-0.5f), lit(1.5f), lit(-2.5f), lit(-0.25f))
    val sNeg = eval1(hyperplaneSignature(neg, 16)).asInstanceOf[Long]
    (s1 ^ sNeg) shouldBe ((1L << 16) - 1)
  }
}
