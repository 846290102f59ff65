package graft

/** Mirrors the driver's t1 smoke check: entry() on sf0.001 must return
  * rows. Prints the row count and first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(8, "graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = false)
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
