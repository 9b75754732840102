package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Args: sfDir outDir [name ...] — trailing query names restrict the dump
  * to that subset (the iterate-on-one-query loop); none = every query. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = if (args.length > 2) args.drop(2).toSet else SparkEntry.queries.keySet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => names(q._1)).foreach { case (name, fn) =>
      try writeOrdered(fn(spark, sfDir), s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // isolate queries (see Bench); the memo-aware sweep drops stray
        // caches and fixpoint-round checkpoints but keeps the memoized
        // family intermediates (dedup clusters / cleaned corpus) alive
        // across queries — the cross-query sharing Memo exists for
        Memo.sweep(spark)
      }
    }
    writeOracleJson(outDir)
    spark.stop()
  }

  /** Write a query result as ONE parquet file in a deterministic row
    * order (all columns, asc nulls-first — Spark's default, matching the
    * oracle's ORDER BY ALL NULLS FIRST wrapper). Keeps the driver's
    * hash-compare stable whether or not it sorts rows itself. */
  def writeOrdered(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.col
    df.orderBy(df.columns.map(col).toSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Dump SparkEntry.oracleSql as JSON. */
  def writeOracleJson(outDir: String): Unit = {
    // wrap every oracle so its rows come back in the same deterministic
    // order writeOrdered gives the Spark dump (see writeOrdered scaladoc)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        val wrapped = s"SELECT * FROM (\n$v\n) graft_ordered ORDER BY ALL NULLS FIRST"
        s"${JsonUtil.jstr(k)}: ${JsonUtil.jstr(wrapped)}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
