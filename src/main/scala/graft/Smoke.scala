package graft

/** Local stand-in for the driver's smoke check: runs SparkEntry.entry
  * (the end-to-end migration slice on sf0.001) and prints the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
