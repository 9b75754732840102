package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.{DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.etl.SensorEtl
import graft.operators.{Dedup, exactAvg}
import graft.timeseries.{ArForecast, ArPoint, ForecastPoint, HoltFit, HoltForecast}

/** The sensor operators shuffle once: the ETL spine is one aggregate, and
  * the 30-min bucket table is built through one exchange and then read by
  * the resample, the hourly and daily windows and every forecast entry
  * with none. Each
  * old formulation is kept here as the reference — the target ⋈ pivot
  * wide table, and the groupBy → typed `groupByKey` dense series — and
  * must give the same rows and schema on sf0.01 and on a dense input
  * whose 30-min buckets hold several readings. Exchange guards read the
  * final adaptive plans; degenerate inputs must return, not throw. */
class SensorShuffleSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import SensorShuffleSpec._

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The wide table as a target groupBy, a two-phase pivot groupBy and
    * their join on (user_id, day). */
  private def oldWide(d: String): DataFrame = {
    val enriched = Tables.events(spark, d)
      .where(col("value") >= 0.0)
      .withColumn("code_id", get_json_object(col("props"), "$.k").cast("int") % 7)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"), col("code_id"))
    val target = enriched.groupBy("user_id", "day").agg(max("code_id").as("code_id"))
    val features = enriched.groupBy("user_id", "day")
      .pivot("event_type", Seq("click", "error", "purchase", "view", "signup"))
      .agg(max(col("value")))
      .na.fill(Map("click" -> 0.0, "error" -> 0.0, "purchase" -> 0.0, "view" -> 21.0, "signup" -> 0.0))
    features.join(target, Seq("user_id", "day"))
      .join(broadcast(SensorEtl.codes(spark)), Seq("code_id"))
      .drop("signup")
  }

  /** The dense series as a (series, bucket) groupBy then a typed
    * `groupByKey` — two exchanges. */
  private def oldDense(d: String): KeyValueGroupedDataset[Long, (Long, Long, Double)] =
    Tables.events(spark, d)
      .groupBy(col("user_id").as("series"), expr("unix_timestamp(ts) div 1800").as("b"))
      .agg(exactAvg(col("value")).as("y"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)

  /** (entry, current form, old formulation) for every forecast entry that
    * consumed an inline copy of the dense series. */
  private val forecastEntries: Seq[(String, String => DataFrame, String => DataFrame)] = Seq(
    ("HoltForecast.prep", d => HoltForecast.prep(spark, d), d =>
      oldDense(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
        val byBucket = buckets(it)
        val lo = byBucket.keys.min
        HoltForecast.interpolateBuckets(byBucket).iterator.zipWithIndex.map {
          case (v, i) => (k, (lo + i) * 1800L, v)
        }
      }.toDF("series", "bucket", "y")),
    ("HoltForecast.forecast", d => HoltForecast.forecast(spark, d), d =>
      oldDense(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
        val ys = HoltForecast.quantileTrim(HoltForecast.interpolateBuckets(buckets(it)))
        val (level, trend) = HoltForecast.holtFit(ys, 0.5, 0.3)
        (1 to 6).iterator.map(h => ForecastPoint(k, h, level + h * trend, level, trend, ys.length))
      }.toDF()),
    ("HoltForecast.hwForecast", d => HoltForecast.hwForecast(spark, d), d =>
      oldDense(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
        val ys = HoltForecast.interpolateBuckets(buckets(it))
        if (ys.length < 96) Iterator.empty
        else {
          val (level, trend, seas, phase) = HoltForecast.hwFit(ys, 0.5, 0.3, 0.3, 48)
          (1 to 6).iterator.map { h =>
            (k, h, HoltForecast.hwForecastPoint(level, trend, seas, phase, h),
              level, trend, seas((phase + h - 1) % 48), ys.length)
          }
        }
      }.toDF("series", "step", "forecast", "level", "trend", "seasonal", "n_obs")),
    ("ArForecast.forecast", d => ArForecast.forecast(spark, d), d =>
      oldDense(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
        val ys = ArraySeq.unsafeWrapArray(oldArray(it))
        Iterator(0, 1).filter(dd => ys.length > 5 + dd).flatMap { dd =>
          ArForecast.arimaForecast(ys, 4, dd, 6).iterator.zipWithIndex.map {
            case (f, i) => ArPoint(k, i + 1, f, 4, dd, ys.length)
          }
        }
      }.toDF()),
    ("ArForecast.holtGridSearch", d => ArForecast.holtGridSearch(spark, d), d =>
      oldDense(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
        ArForecast.bestHoltParams(oldArray(it)).iterator.flatMap { case (a, b, mse, level, trend) =>
          (1 to 3).iterator.map(h => HoltFit(k, a, b, mse, h, level + h * trend))
        }
      }.toDF()))

  private val entries: Seq[(String, String => DataFrame, String => DataFrame)] =
    ("SensorEtl.wide", (d: String) => SensorEtl.wide(spark, d), oldWide _) +: forecastEntries

  for ((label, dir) <- Seq("sf0.01" -> (() => sf01), "the 5x dense sf0.001 input" -> (() => denseDir(sf))))
    test(s"every sensor operator equals its old formulation on $label (rows and schema)") {
      for ((name, current, old) <- entries) {
        val (cur, ref) = (current(dir()), old(dir()))
        assert(cur.schema == ref.schema, s"$name: schema differs")
        val got = rows(cur)
        assert(got.nonEmpty, s"$name: no rows to compare")
        assert(got == rows(ref), s"$name: rows differ")
      }
    }

  test("the dense input holds several readings per (series, 30-min bucket)") {
    val perBucket = Tables.events(spark, denseDir(sf))
      .groupBy(col("user_id"), expr("unix_timestamp(ts) div 1800"))
      .count().agg(avg("count")).head().getDouble(0)
    assert(perBucket >= 5.0, s"only $perBucket readings per bucket")
  }

  /** The final adaptive plan of `df`, after running that same plan. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.executedPlan.execute().count()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeLike => e }.size

  private def eventScans(p: SparkPlan): Int = collect(p) {
    case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.getName == "events.parquet") => f
  }.size

  test("q_etl_wide runs one shuffle exchange over one events scan (final adaptive plan, sf0.01)") {
    val p = finalPlan(SparkEntry.queries("q_etl_wide")(spark, sf01))
    assert(shuffles(p) == 1, s"shuffle exchanges:\n$p")
    assert(eventScans(p) == 1, s"events scans:\n$p")
  }

  test("the 30-min bucket table builds with one shuffle exchange (final adaptive plan, sf0.01)") {
    val p = finalPlan(HoltForecast.buildBucketTable(spark, sf01))
    assert(shuffles(p) == 1, s"shuffle exchanges:\n$p")
  }

  for (q <- Seq("q_holt_forecast", "q_ar_forecast", "q_holt_prep", "q_hw_seasonal"))
    test(s"$q runs no shuffle exchange over the built dense table") {
      HoltForecast.bucketTable(spark, sf01)
      val p = finalPlan(SparkEntry.queries(q)(spark, sf01))
      assert(shuffles(p) == 0, s"shuffle exchanges:\n$p")
    }

  for (q <- Seq("q_resample_30m", "q_lead_window", "q_interpolate", "q_ffill"))
    test(s"$q runs no shuffle exchange over the built bucket table") {
      HoltForecast.bucketTable(spark, sf01)
      val p = finalPlan(SparkEntry.queries(q)(spark, sf01))
      assert(shuffles(p) == 0, s"shuffle exchanges:\n$p")
    }

  test("q_tfidf runs at most two shuffle exchanges (final adaptive plan, sf0.01)") {
    val p = finalPlan(SparkEntry.queries("q_tfidf")(spark, sf01))
    assert(shuffles(p) <= 2, s"shuffle exchanges:\n$p")
  }

  test("empty and one-row events tables return zero or valid rows") {
    val (empty, one) = (emptyDir(sf), oneRowDir(sf))
    for ((name, current, old) <- entries) {
      assert(current(empty).collect().isEmpty, s"$name: rows from an empty table")
      assert(rows(current(one)) == rows(old(one)), s"$name: one-row table")
    }
    val value = Tables.events(spark, one).head().getAs[Double]("value")
    assert(SensorEtl.wide(spark, one).count() == 1L)
    assert(HoltForecast.prep(spark, one).as[(Long, Long, Double)].collect().map(_._3).toSeq == Seq(value))
    val holt = HoltForecast.forecast(spark, one).as[ForecastPoint].collect()
    assert(holt.length == 6 && holt.forall(p => p.forecast == value && p.trend == 0.0 && p.n_obs == 1))
    assert(HoltForecast.hwForecast(spark, one).isEmpty, "one bucket is shorter than two seasons")
    assert(ArForecast.forecast(spark, one).isEmpty, "one bucket is shorter than AR(4) needs")
  }

  /** `ngramJaccardDocs`/`ngramContainmentDocs` cache their postings, read
    * by both sides of the self-join. At sf0.01 that launches 9 jobs, a
    * localCheckpoint 8 and no persistence 7, but the cached form was the
    * fastest of the three in wall time, so it stays — bounded here. */
  test("ngram Jaccard and containment over documents: at most 9 jobs, rows as without the cache") {
    val docs = Tables.documents(spark, sf01)
    val postings = Dedup.rarePostings(docs, 100L)
    val sizes = Dedup.docSizes(docs)
    val forms: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
      ("jaccard", Dedup.ngramJaccardDocs(_), Dedup.ngramJaccardFromPostings(_, sizes, 0.12)),
      ("containment", Dedup.ngramContainmentDocs(_), Dedup.ngramContainmentFromPostings(_, sizes, 0.5)))
    for ((name, current, fromPostings) <- forms) {
      val (got, jobs) =
        try JobCount(spark.sparkContext)(rows(current(docs)))
        finally postings.unpersist(true)
      assert(jobs <= 9, s"$name launched $jobs jobs")
      assert(got.nonEmpty && got == rows(fromPostings(postings)), s"$name: rows differ")
    }
  }
}

object SensorShuffleSpec {
  private def session = SparkTestBase.session
  private val written = scala.collection.concurrent.TrieMap.empty[String, String]

  private def buckets(it: Iterator[(Long, Long, Double)]): Map[Long, Double] =
    it.map(r => r._2 -> r._3).toMap

  private def oldArray(it: Iterator[(Long, Long, Double)]): Array[Double] =
    HoltForecast.interpolateBuckets(buckets(it)).toArray

  /** The scratch dir `tag`, filled by `write` once per JVM and then
    * shared by every spec that reads it. */
  private def once(tag: String)(write: String => Unit): String =
    written.getOrElseUpdate(tag, { val d = Scratch.dir(tag); write(d); d })

  /** The `sf` events, each repeated 5× with its `ts` moved inside its own
    * 30-min bucket (so inside its day) and its `value` varied: buckets
    * then hold several readings, and the DECIMAL sums add real terms. */
  def denseDir(sf: String): String = once("sensor_shuffle_dense") { d =>
    val ev = Tables.events(session, sf)
    (0 until 5).map { k =>
      ev.withColumn("event_id", col("event_id") * 5 + k)
        .withColumn("ts", timestamp_seconds(expr(
          s"(unix_timestamp(ts) div 1800) * 1800 + (unix_timestamp(ts) % 1800 + ${k * 379}) % 1800")))
        .withColumn("value", round(col("value") + k * 1.25, 2))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$d/events.parquet")
  }

  /** The first `n` `sf` events (by event_id) as an events table. */
  private def firstEvents(sf: String, tag: String, n: Int): String = once(tag) { d =>
    Tables.events(session, sf).orderBy("event_id").limit(n).coalesce(1)
      .write.mode("overwrite").parquet(s"$d/events.parquet")
  }

  def emptyDir(sf: String): String = firstEvents(sf, "sensor_shuffle_empty", 0)
  def oneRowDir(sf: String): String = firstEvents(sf, "sensor_shuffle_one", 1)
}
