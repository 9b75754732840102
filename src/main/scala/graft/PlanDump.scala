package graft

/** Dump `.explain("formatted")` for named gate queries — the plans/r17
  * before/after evidence the optimization rounds commit. Usage:
  *   runMain graft.PlanDump <dataDir> <outDir> q_name1 q_name2 ...
  * Same session as Bench ([[Session.local]]) so plan shapes match what
  * the bench executes. Memoized gates materialize their family build on
  * first touch; the dumped plan is the gate's marginal plan — exactly
  * what Bench times per rep (the build cost carries its own [memo]
  * stderr receipt). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(out)
    val names = args.drop(2)
    val spark = Session.local()
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val df = fn(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(out.resolve(s"$n$suffix.txt"), txt)
      System.err.println(s"[plandump] wrote $n$suffix.txt")
      Memo.sweep(spark)
    }
    spark.stop()
  }
}
