package graft

/** Local replica of the driver's t1 smoke: run SparkEntry.entry and print
  * its row count (driver requires > 0) plus the first rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
