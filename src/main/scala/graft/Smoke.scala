package graft

/** Driver-contract smoke: entry() on sf0.001 must return >0 rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    spark.stop()
  }
}
