package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for every graft main and spec, so the
  * suite Bench times and the suite Verify and the specs check run the
  * same configuration. `getOrCreate` makes it idempotent within a JVM. */
object Session {
  /** SPARK_GRAFT_CPUS, else every core the JVM sees. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // split multi-row-group fixture files into parallel scan tasks
      // (driver sf files are one row group — no effect there; the sf1
      // ScaleUp fixture writes 1 MB row groups so map-side text work
      // parallelizes the way a many-split 100 TB table would)
      .config("spark.sql.files.maxPartitionBytes", "1m")
      // generated-class cache (a static conf, so set before getOrCreate):
      // one sf0.01 Verify of every gate compiles 3,453 distinct classes,
      // and Spark's default of 100 entries made it compile 5,261; 6000 is
      // that count with more than 1.5x headroom, since the cache splits
      // its entries over 4 unevenly filled segments
      .config("spark.sql.codegen.cache.maxEntries", "6000")
      .config("spark.sql.warehouse.dir", Scratch.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the session confs `kv` set, then put each key back
    * to its previous value, or unset it if it had none — also when
    * `body` throws. Nested calls restore in reverse order. Every scoped
    * conf change in graft goes through here, so the session Bench,
    * Verify and the specs share is the same after a gate as before it.
    * "Had none" is read from `getAll`, the explicitly set keys:
    * `getOption` returns a registered key's default, and restoring that
    * would leave the key set. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll
    val saved = kv.map { case (k, _) => k -> set.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
