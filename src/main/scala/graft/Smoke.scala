package graft

/** Local mirror of the driver's smoke check: run [[SparkEntry.entry]] on
  * sf0.001 and print its row count and columns. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(defaultCpus = "4")
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    println(s"ENTRY_COLS=${df.columns.mkString(",")}")
    spark.stop()
  }
}
