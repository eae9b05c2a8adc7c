package graft

/** Local t1-smoke replica: runs SparkEntry.entry exactly as the driver
  * does (rows > 0 on sf0.001) and prints the result. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.root()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"entry rows=$n")
    df.show(5, truncate = false)
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
