package graft

/** Dev smoke: replicates the driver's t1 check — SparkEntry.entry must
  * return >0 rows on sf0.001. Prints the row count and the first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    spark.stop()
  }
}
