package graft

/** Local smoke-run of the driver's t1 check: SparkEntry.entry must
  * return rows > 0 on sf0.001. Not part of the driver contract. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"[smoke] entry rows=${df.count()}")
    spark.stop()
  }
}
