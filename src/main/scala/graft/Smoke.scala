package graft

/** Smoke main mirroring the driver's entry check: run the flagship on
  * sf0.001 and print the row count (driver requires rows > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n")
    spark.stop()
  }
}
