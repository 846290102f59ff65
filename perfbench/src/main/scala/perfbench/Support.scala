package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What the runner needs from a workload. An op is named; a pass runs
  * every op once, in an order the runner chooses.
  */
trait Workload {
  def name: String
  def ops: Seq[String]
  /** One timed pass over every op, in an order drawn from `rng`. */
  def pass(spark: SparkSession, rng: scala.util.Random,
      tracer: Option[Tracer]): PassResult
  /** Wipe any persisted state the workload's program paths keep. */
  def resetState(): Unit
  /** Per-session set-up (data, warm query, external sources). */
  def setup(spark: SparkSession): Unit
  /** Untimed warm-up beyond the warm pass, if the ops need more. */
  def warmUp(): Unit = ()
  /** The untimed correctness gate, run once after the timed passes. */
  def gate(spark: SparkSession, checks: Checks): Unit
  def teardown(spark: SparkSession): Unit
  /** (bytes, files, bytes written since `sinceMs`) of persisted state. */
  def stateFootprint(sinceMs: Long): (Long, Long, Long)
  /** Names of the verification taps the ops write under `VerifyTap.root`. */
  def taps: Seq[String]
}

/** The ledger state families the program keeps for one data dir:
  * `StatePath` names each `<root>/graft_<tag>_<key>`.
  */
object StateDir {
  def root(dataDir: String): String =
    new java.io.File(graft.queries.StatePath(dataDir, "")).getParent

  def key(dataDir: String): String =
    new java.io.File(graft.queries.StatePath(dataDir, "")).getName
      .stripPrefix("graft__")

  def entries(dataDir: String): Seq[java.io.File] = {
    val k = key(dataDir)
    Option(new java.io.File(root(dataDir)).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("graft_") && f.getName.contains(k))
  }
}

/** A pass's wall time, each op's time, and the ops that threw. A pass
  * with errors adds no time: its wall time enters no median.
  */
final case class PassResult(wallS: Double, opS: Seq[(String, Double)],
    errors: Seq[String])

/** Correctness checks of one run: each attempt is counted, and a check
  * that throws or returns false is a failure with its reason kept.
  */
final class Checks {
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val oracleOps = mutable.ArrayBuffer.empty[String]

  def note(msg: String): Unit = synchronized { failures += msg }

  def attempt(label: String)(f: => Boolean): Unit = {
    attempted += 1
    try { if (!f) note(s"$label: check failed") }
    catch { case e: Throwable => note(s"$label: ${Errors.describe(e)}") }
  }
}

object Errors {
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      .take(500)
}

object Fs {
  def files(root: Path): Seq[java.io.File] =
    if (!Files.exists(root)) Nil
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.map(_.toFile).filter(_.isFile).toList
      finally st.close()
    }

  def bytes(root: Path): Long = files(root).map(_.length).sum

  def delete(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
