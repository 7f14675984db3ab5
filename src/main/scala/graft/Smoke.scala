package graft

/** Driver-contract smoke: run SparkEntry.entry and print its row count —
  * mirrors the driver's rows>0 check on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local("4")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n (must be > 0)")
    spark.stop()
  }
}
