package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver testdata (`/root/repo/TESTDATA.md`). Every
  * query receives an `sfDir` and loads through here so the scan path
  * (parquet, vectorized, column-pruned) is uniform.
  *
  * Input metadata is resolved once per file: `spark.read.parquet` infers
  * the schema from the footers with a Spark job on every call, so each
  * session keeps the inferred schema per (path, the files under it with
  * their modification time and length, the confs that steer inference)
  * and later loads read with that schema pinned — no job. A rewritten
  * file changes its key and is inferred again. The schema is cached, not
  * the DataFrame: every load is a fresh relation with its own attribute
  * ids, so self-joins of two loads stay resolvable. Entries of stopped
  * sessions are pruned on every load, as in [[Memo]].
  *
  * At 100 TB these would be partitioned/bucketed table locations; the
  * API stays the same — `spark.read.parquet` on a directory prunes
  * partitions and pushes filters exactly like a single file.
  */
object Tables {
  def region(s: SparkSession, d: String): DataFrame    = parquet(s, s"$d/region.parquet")
  def nation(s: SparkSession, d: String): DataFrame    = parquet(s, s"$d/nation.parquet")
  def customer(s: SparkSession, d: String): DataFrame  = parquet(s, s"$d/customer.parquet")
  def supplier(s: SparkSession, d: String): DataFrame  = parquet(s, s"$d/supplier.parquet")
  def part(s: SparkSession, d: String): DataFrame      = parquet(s, s"$d/part.parquet")
  def orders(s: SparkSession, d: String): DataFrame    = parquet(s, s"$d/orders.parquet")
  def lineitem(s: SparkSession, d: String): DataFrame  = parquet(s, s"$d/lineitem.parquet")
  /** events.ts has shipped in two physical shapes across driver testdata
    * generations: TIMESTAMP(NANOS) (which Spark's reader rejects — read
    * as raw int64 under the legacy conf and truncate ns→µs, the same
    * truncation DuckDB applies) and annotated micros with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ — cast to
    * the session type; the session timezone is pinned UTC everywhere, so
    * the wall-clock reading equals DuckDB's naive TIMESTAMP). Branch on
    * the footer schema so both generations — and the ScaleUp fixtures,
    * which write plain int64 nanos — load identically. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(parquet(s, s"$d/events.parquet"))
  }

  /** ns-long / NTZ / session-timestamp `ts` column → session TimestampType
    * (epoch micros under the UTC session tz). Shared by the batch loader
    * and every streaming file source over events.parquet. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType            => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => df
    }
  }

  /** The on-file type of events.ts under `d` (LongType for the legacy
    * nanos shape, TimestampNTZType for annotated micros) — streaming file
    * sources need it to declare a user schema that matches the footer. */
  def eventsTsFileType(s: SparkSession, d: String): org.apache.spark.sql.types.DataType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parquet(s, s"$d/events.parquet").schema("ts").dataType
  }
  def documents(s: SparkSession, d: String): DataFrame = parquet(s, s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame = parquet(s, s"$d/embeddings.parquet")

  /** Rows of the parquet table at `path`: the footer row counts of the
    * files Spark lists for it, summed on the driver — no Spark job. The
    * listing reads no schema, so it needs no inference either. */
  def rowCount(s: SparkSession, path: String): Long = {
    val conf = s.sparkContext.hadoopConfiguration
    s.read.schema(new StructType()).parquet(path).inputFiles.iterator.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(new java.net.URI(f)), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema")

  private type SchemaKey = (String, Seq[(String, Long, Long)], Seq[Option[String]])

  private val schemas = mutable.Map.empty[SparkSession, mutable.Map[SchemaKey, StructType]]

  private def schemasFor(s: SparkSession): mutable.Map[SchemaKey, StructType] =
    synchronized {
      schemas.filterInPlace((sess, _) => !sess.sparkContext.isStopped)
      schemas.getOrElseUpdate(s, mutable.Map.empty)
    }

  /** The parquet table at `path`, read with its schema pinned once the
    * session has inferred it for the current files. A path that does not
    * exist goes to the plain reader, which raises Spark's own error. */
  private def parquet(s: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val files =
      try {
        val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
        val b = Seq.newBuilder[(String, Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          b += ((f.getPath.toString, f.getModificationTime, f.getLen))
        }
        Some(b.result())
      } catch { case _: java.io.FileNotFoundException => None }
    files match {
      case None => s.read.parquet(path)
      case Some(fs) =>
        val key: SchemaKey = (path, fs, inferenceConfs.map(s.conf.getOption))
        synchronized(schemasFor(s).get(key)) match {
          case Some(schema) => s.read.schema(schema).parquet(path)
          case None =>
            val df = s.read.parquet(path)
            synchronized(schemasFor(s).update(key, df.schema))
            df
        }
    }
  }
}
