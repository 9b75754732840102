package graft

import org.apache.spark.sql.graft.GraftExtensions

/** SQL entry point: registers the testdata tables as temp views plus
  * graft's native functions, then runs one SQL statement.
  * Args: sfDir "SELECT ..." [showRows]. */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val query = args(1)
    val n = if (args.length > 2) args(2).toInt else 20
    val spark = Session.local()
    GraftExtensions.register(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      (t match {
        case "events" => Tables.events(spark, sfDir)
        case _        => spark.read.parquet(s"$sfDir/$t.parquet")
      }).createOrReplaceTempView(t)
    }
    spark.sql(query).show(n, truncate = false)
    spark.stop()
  }
}
