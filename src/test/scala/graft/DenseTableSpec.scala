package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import graft.functions.TextAnalytics
import graft.ml.Pipelines
import graft.operators.{TimeWindows, exactAvg}
import graft.timeseries.{ArForecast, ArPoint, ArimaFit, ForecastPoint, HoltFit, HoltForecast}

/** The 30-min resample, the hourly `ffill`/`interpolate`, the daily
  * `leadWindow` label (and so the GBT fit frame) and every whole-table
  * forecast entry read the one memoized bucket table
  * ([[HoltForecast.bucketTable]]) — the resample its rows, the hourly and
  * daily readers its buckets nested into hours and days, the forecasts the
  * interpolated [[HoltForecast.denseTable]] — and tfidf clusters its
  * documents by `doc_id` once. Each old formulation is kept here as the
  * reference and must give the same rows and schema: the one-exchange
  * dense series grouped by series (with the bucket key floored before
  * 1970), with each entry's kernel body in a `flatMapGroups`; the
  * `window()` resample; the (user, day) max with a series-partitioned
  * `lead`; the `sequence()` hour spine with window-frame fill and lerp;
  * tfidf without the `doc_id` exchange. */
class DenseTableSpec extends SparkTestBase {
  import spark.implicits._
  import SensorShuffleSpec.{denseDir, emptyDir, oneRowDir}
  import DenseTableSpec._

  private val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString

  private def rows(df: Dataset[_]): Seq[String] = df.toDF().collect().map(_.toString).sorted.toSeq

  private def assertSame(name: String, cur: Dataset[_], ref: Dataset[_], nonEmpty: Boolean): Unit = {
    assert(cur.schema == ref.schema, s"$name: schema differs\n${cur.schema}\n${ref.schema}")
    val got = rows(cur)
    if (nonEmpty) assert(got.nonEmpty, s"$name: no rows to compare")
    assert(got == rows(ref), s"$name: rows differ")
  }

  /** The dense series before it was memoized: one exchange on series, the
    * DECIMAL mean per (series, 30-min bucket), grouped by series. The key
    * is the epoch micros floored to the bucket, also before 1970 (a
    * double quotient: exact at these magnitudes, |q| < 2^20); a
    * bucket with a null mean is a gap. */
  private def oldSeries(d: String): KeyValueGroupedDataset[Long, (Long, Long, Double)] =
    Tables.events(spark, d)
      .select(col("user_id").as("series"), expr("floor(unix_micros(ts) / 1800000000)").as("b"), col("value"))
      .repartition(col("series"))
      .groupBy("series", "b")
      .agg(exactAvg(col("value")).as("y"))
      .where(col("y").isNotNull)
      .groupBy("series")
      .as[Long, (Long, Long, Double)]

  /** `kernel(series, first bucket, dense array)` in a `flatMapGroups` over
    * [[oldSeries]]: the old per-entry shape. */
  private def old[U: Encoder](d: String)(kernel: (Long, Long, Array[Double]) => Iterator[U]): Dataset[U] =
    oldSeries(d).flatMapGroups { (k: Long, it: Iterator[(Long, Long, Double)]) =>
      val byBucket = it.map(r => r._2 -> r._3).toMap
      kernel(k, byBucket.keys.min, HoltForecast.interpolateBuckets(byBucket).toArray)
    }

  /** (entry, current form, old formulation) for every dense-table consumer. */
  private val consumers: Seq[(String, String => Dataset[_], String => Dataset[_])] = Seq(
    ("HoltForecast.prep", HoltForecast.prep(spark, _), d =>
      old(d) { (k, lo, ys) =>
        ys.iterator.zipWithIndex.map { case (v, i) => (k, (lo + i) * 1800L, v) }
      }.toDF("series", "bucket", "y")),
    ("HoltForecast.forecast", HoltForecast.forecast(spark, _), d =>
      old(d) { (k, _, dense) =>
        val ys = HoltForecast.quantileTrim(ArraySeq.unsafeWrapArray(dense))
        val (level, trend) = HoltForecast.holtFit(ys, 0.5, 0.3)
        (1 to 6).iterator.map(h => ForecastPoint(k, h, level + h * trend, level, trend, ys.length))
      }.toDF()),
    ("HoltForecast.hwForecast", HoltForecast.hwForecast(spark, _), d =>
      old(d) { (k, _, dense) =>
        val ys = ArraySeq.unsafeWrapArray(dense)
        if (ys.length < 96) Iterator.empty
        else {
          val (level, trend, seas, phase) = HoltForecast.hwFit(ys, 0.5, 0.3, 0.3, 48)
          (1 to 6).iterator.map { h =>
            (k, h, HoltForecast.hwForecastPoint(level, trend, seas, phase, h),
              level, trend, seas((phase + h - 1) % 48), ys.length)
          }
        }
      }.toDF("series", "step", "forecast", "level", "trend", "seasonal", "n_obs")),
    ("ArForecast.forecast", ArForecast.forecast(spark, _), d =>
      old(d) { (k, _, dense) =>
        val ys = ArraySeq.unsafeWrapArray(dense)
        Iterator(0, 1).filter(dd => ys.length > 5 + dd).flatMap { dd =>
          ArForecast.arimaForecast(ys, 4, dd, 6).iterator.zipWithIndex.map {
            case (f, i) => ArPoint(k, i + 1, f, 4, dd, ys.length)
          }
        }
      }.toDF()),
    ("ArForecast.armaHrFixed", ArForecast.armaHrFixed(spark, _), d =>
      old(d) { (k, _, raw) =>
        if (raw.length < 2) Iterator.empty
        else {
          val cur = Array.tabulate(raw.length - 1)(j => raw(j + 1) - raw(j))
          val n = cur.length
          if (ArForecast.hrLongOrder(2, 1, n) != 10 || n - 10 - 1 <= 3) Iterator.empty
          else {
            val (mean, phi, theta) = ArForecast.hannanRissanen(ArraySeq.unsafeWrapArray(cur), 2, 1)
            Iterator.single((k, n.toLong, mean, phi(0), phi(1), theta(0)))
          }
        }
      }.toDF("series", "n", "mu", "phi1", "phi2", "theta1")),
    ("ArForecast.arimaCss", ArForecast.arimaCss(spark, _), d =>
      old(d) { (k, _, raw) =>
        val combos = ArForecast.arimaGridMses(raw, pGrid, dGrid, qGrid)
        if (combos.isEmpty) Iterator.empty
        else ArForecast.firstArgmin(combos) match {
          case None =>
            Iterator.single((k, -1, 0, 0, raw.length.toLong, Double.NaN, Double.NaN, true, true))
          case Some((p, dd, q, _)) =>
            var cur = raw
            for (_ <- 0 until dd) { val prev = cur; cur = Array.tabulate(prev.length - 1)(j => prev(j + 1) - prev(j)) }
            val (mean, phi, theta) = ArForecast.hannanRissanen(ArraySeq.unsafeWrapArray(cur), p, q)
            val x = Array.tabulate(cur.length)(cur(_) - mean)
            val hrMse = ArForecast.armaWalkForward(x, 0, phi, theta)._1
            val (_, _, cssMse) = ArForecast.cssRefine(x, phi, theta)
            Iterator.single((k, p, dd, q, cur.length.toLong, round6(hrMse), round6(cssMse),
              cssMse <= hrMse, false))
        }
      }.toDF("series", "p", "d", "q", "n", "hr_mse", "css_mse", "improved", "nan_winner")),
    ("ArForecast.arimaGridSearch", ArForecast.arimaGridSearch(spark, _), d =>
      old(d) { (k, _, raw) =>
        ArForecast.bestArimaOrders(raw, pGrid, dGrid, qGrid).iterator.flatMap { case (p, dd, q, mse) =>
          ArForecast.arimaForecast(ArraySeq.unsafeWrapArray(raw), p, dd, q, 3)
            .iterator.zipWithIndex.map { case (f, i) => ArimaFit(k, p, dd, q, mse, i + 1, f) }
        }
      }.toDF()),
    ("ArForecast.arimaFamily", ArForecast.arimaFamily(spark, _, pGrid, dGrid, qGrid, 3), d =>
      old(d) { (k, _, raw) =>
        val combos = ArForecast.arimaGridMses(raw, pGrid, dGrid, qGrid)
        if (combos.isEmpty) Iterator.empty
        else ArForecast.firstArgmin(combos) match {
          case None =>
            Iterator.single((k, raw.length.toLong, true, -1, 0, 0, Double.NaN, true, true, true, true))
          case Some((p, dd, q, mse)) =>
            val finite = combos.zipWithIndex.filter(c => !c._1._4.isNaN)
            val am = finite.minBy { case ((_, _, _, m), i) => (m, i) }
            val argminOk = am._1._1 == p && am._1._2 == dd && am._1._3 == q && am._1._4 == mse
            val inGridOk = pGrid.contains(p) && dGrid.contains(dd) && qGrid.contains(q)
            val finiteOk = java.lang.Double.isFinite(mse) && mse >= 0.0
            val fc = ArForecast.arimaForecast(ArraySeq.unsafeWrapArray(raw), p, dd, q, 3)
            val fcOk = fc.length == 3 && fc.forall(java.lang.Double.isFinite)
            Iterator.single((k, raw.length.toLong, false, p, dd, q, mse, inGridOk, finiteOk, argminOk, fcOk))
        }
      }.toDF("series", "nb", "nan_winner", "p", "d", "q", "val_mse", "in_grid", "mse_ok",
        "argmin_ok", "fc_ok")),
    ("ArForecast.forecastCv", ArForecast.forecastCv(spark, _), d =>
      old(d) { (k, _, raw) => ArForecast.cvGroup(k, raw, pGrid, dGrid, qGrid) }.toDF()),
    ("ArForecast.holtGridSearch", ArForecast.holtGridSearch(spark, _), d =>
      old(d) { (k, _, raw) =>
        ArForecast.bestHoltParams(raw).iterator.flatMap { case (a, b, mse, level, trend) =>
          (1 to 3).iterator.map(h => HoltFit(k, a, b, mse, h, level + h * trend))
        }
      }.toDF()))

  /** sf0.01 events moved back by a whole number of 30-min buckets so that
    * the series straddle 1970, plus series -1: values at −1 µs and −30 min
    * (bucket −1), −30 min − 1 µs (bucket −2), −60 min − 1 s (bucket −3, a
    * null value), −90 min − 1 s (bucket −4) and +1 s (bucket 0, a null
    * value). */
  private lazy val straddleDir: String = {
    val d = Scratch.dir("dense_table_straddle")
    val ev = Tables.events(spark, sf01)
    val mid = ev.agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")).head().getLong(0)
    val shift = mid - Math.floorMod(mid, 1800000000L)
    val series: Seq[(Long, Long, Option[Double])] = Seq((-1L, -1L, Some(1.25)),
      (-2L, -1800000000L, Some(2.5)), (-3L, -1800000001L, Some(4.0)), (-4L, -3601000000L, None),
      (-5L, -5401000000L, Some(8.0)), (-6L, 1000000L, None))
    series.toDF("event_id", "us", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), lit(-1L).as("user_id"),
        lit("view").as("event_type"), col("value"), lit("""{"k": 1}""").as("props"))
      .unionByName(ev.withColumn("ts", timestamp_micros(expr("unix_micros(ts)") - shift)))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private val inputs = Seq("sf0.01" -> (() => sf01), "the 5x dense sf0.001 input" -> (() => denseDir(sf)),
    "the 1970-straddling input" -> (() => straddleDir))

  for ((label, dir) <- inputs)
    test(s"every dense-table consumer equals its flatMapGroups form on $label (rows and schema)") {
      for ((name, current, ref) <- consumers)
        assertSame(name, current(dir()), ref(dir()), nonEmpty = label != "the 5x dense sf0.001 input")
    }

  test("bucket means floor before 1970: -1 µs and -30 min share a bucket, -30 min - 1 µs starts the one before") {
    val prep = HoltForecast.prep(spark, straddleDir).where(col("series") === -1L)
      .as[(Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(prep == Seq((-1L, -7200L, 8.0), (-1L, -5400L, 6.0), (-1L, -3600L, 4.0), (-1L, -1800L, 1.875)),
      "null-mean buckets are gaps, interpolated inside the series and dropped at its ends")
    val resampled = TimeWindows.resample30m(spark, straddleDir).where(col("user_id") === -1L)
      .select(unix_seconds(col("bucket")), col("avg_value"), col("n"), col("max_value"))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(resampled == Seq(Seq(-7200L, 8.0, 1L, 8.0), Seq(-5400L, null, 1L, null), Seq(-3600L, 4.0, 1L, 4.0),
      Seq(-1800L, 1.875, 2L, 2.5), Seq(0L, null, 1L, null)))
  }

  test("one bucket-table build serves resample30m and then HoltForecast.forecast") {
    Memo.clear(spark)
    val before = Memo.buildSeconds
    TimeWindows.resample30m(spark, sf01).count()
    val built = Memo.buildSeconds
    assert(built > before, "resample30m builds the bucket table")
    HoltForecast.forecast(spark, sf01).count()
    assert(Memo.buildSeconds == built, "the forecast rebuilt the bucket table")
  }

  test("resample30m and q_holt_prep agree on every observed bucket mean") {
    for ((label, d) <- inputs) {
      val observed = TimeWindows.resample30m(spark, d()).where(col("avg_value").isNotNull)
        .select(col("user_id").as("series"), unix_seconds(col("bucket")).as("bucket"), col("avg_value"))
      val prep = SparkEntry.queries("q_holt_prep")(spark, d())
      assert(!observed.isEmpty, s"$label: no observed buckets")
      assert(observed.join(prep, Seq("series", "bucket"), "left_anti").isEmpty,
        s"$label: observed buckets missing from q_holt_prep")
      assert(observed.join(prep, Seq("series", "bucket")).where(!(col("avg_value") <=> col("y"))).isEmpty,
        s"$label: bucket means differ")
    }
  }

  test("the dense table holds one row per series, read by later entries without a rebuild") {
    Memo.clear(spark)
    val built = Memo.buildSeconds
    val table = HoltForecast.denseTable(spark, sf01)
    val once = Memo.buildSeconds
    assert(once > built, "the first read builds the table")
    assert(table.count() == Tables.events(spark, sf01).select("user_id").distinct().count())
    HoltForecast.forecast(spark, sf01).count()
    ArForecast.forecast(spark, sf01).count()
    assert(Memo.buildSeconds == once, "a consumer rebuilt the dense table")
  }

  test("empty and one-row events tables through the dense table: no rows, or the old rows") {
    val (empty, oneRow) = (emptyDir(sf), oneRowDir(sf))
    assert(TimeWindows.resample30m(spark, empty).isEmpty)
    assertSame("resample30m (one row)", TimeWindows.resample30m(spark, oneRow), windowResample(oneRow),
      nonEmpty = true)
    for ((name, current, ref) <- consumers) {
      assert(current(empty).isEmpty, s"$name: rows from an empty table")
      assertSame(s"$name (one row)", current(oneRow), ref(oneRow), nonEmpty = false)
    }
    assert(HoltForecast.denseTable(spark, empty).isEmpty)
    val one = HoltForecast.denseTable(spark, oneRow).collect()
    assert(one.length == 1 && one.head._3.length == 1)
  }

  /** The resample before this form: a `window()` struct as the group key. */
  private def windowResample(d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(col("user_id"), window(col("ts"), "30 minutes"))
      .agg(exactAvg(col("value")).as("avg_value"), count(lit(1)).as("n"), max("value").as("max_value"))
      .select(col("user_id"), col("window.start").as("bucket"), col("avg_value"), col("n"),
        col("max_value"))

  /** sf0.001 events with `ts` replaced by `micros` (None is a null `ts`),
    * two series, and a null value at 65 min before the epoch. */
  private def edgeTable(tag: String, micros: Seq[Option[Long]]): String = {
    val d = Scratch.dir(tag)
    val ts = micros.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("i", "us")
    Tables.events(spark, sf).orderBy("event_id").limit(micros.size)
      .withColumn("i", row_number().over(Window.orderBy("event_id")) - 1L)
      .join(ts, "i")
      .withColumn("ts", timestamp_micros(col("us")))
      .withColumn("user_id", col("i") % 2)
      .withColumn("value", when(col("us") =!= -3900000000L, col("value")))
      .drop("i", "us")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  /** Bucket edges: sub-second times, times before 1970 (one µs, one
    * bucket and one µs, and 65 min before the epoch, the last alone in its
    * bucket with a null value) and null. */
  private val bucketEdges: Seq[Option[Long]] = Seq(Some(-1L), Some(0L), Some(-1800000000L),
    Some(-1800000001L), Some(-3900000000L), Some(1700000000123456L), Some(1700000000999999L),
    Some(1699999199999999L), Some(1699999200000000L), None, None, Some(-1L))

  private lazy val edgeDir: String = edgeTable("dense_table_resample_edges", bucketEdges)

  /** The bucket edges with their four 2023 times moved to the same
    * offsets from 1970-01-01 01:00 (the old hour spine's window frames are
    * quadratic in its length, so a 54-year spine would not finish), plus
    * hour and day edges: −1 h, −1 h − 1 µs, −1 d and −1 d − 1 µs (−1 µs
    * and 0 are bucket edges already). */
  private lazy val gridEdgeDir: String = edgeTable("dense_table_grid_edges",
    bucketEdges.map(_.map(us => if (us > 1600000000000000L) us - 1699999200000000L + 3600000000L else us)) ++
      Seq(Some(-3600000000L), Some(-3600000001L), Some(-86400000000L), Some(-86400000001L)))

  test("resample30m equals the window() form on sf0.01, the dense input and bucket edges") {
    for ((label, d) <- inputs :+ ("bucket edges" -> (() => edgeDir)))
      assertSame(s"resample30m on $label", TimeWindows.resample30m(spark, d()), windowResample(d()),
        nonEmpty = true)
    val edges = TimeWindows.resample30m(spark, edgeDir)
    val preEpoch = edges.where(col("user_id") === 0L && col("bucket") === timestamp_micros(lit(-1800000000L)))
    assert(preEpoch.select("n").as[Long].collect().toSeq == Seq(2L),
      "-1 µs and -30 min share the bucket starting 30 min before the epoch")
    assert(edges.where(col("bucket").isNull).isEmpty, "null ts rows are dropped")
    val nullBucket = edges.where(col("bucket") === timestamp_micros(lit(-5400000000L)))
      .select("avg_value", "n", "max_value").collect().map(_.toSeq).toSeq
    assert(nullBucket == Seq(Seq(null, 1L, null)), "an all-null-value bucket keeps a null mean and max")
  }

  /** The first 2,000 sf0.01 events (by event_id) with the first one's `ts`
    * null, and the same table without that row. */
  private lazy val (nullTsDir, nullTsDroppedDir) = {
    val (d, dropped) = (Scratch.dir("dense_table_null_ts"), Scratch.dir("dense_table_null_ts_dropped"))
    val ev = Tables.events(spark, sf01).orderBy("event_id").limit(2000).cache()
    val first = ev.agg(min("event_id")).head().getLong(0)
    ev.withColumn("ts", when(col("event_id") =!= first, col("ts")))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    ev.where(col("event_id") =!= first).write.mode("overwrite").parquet(s"$dropped/events.parquet")
    ev.unpersist()
    (d, dropped)
  }

  test("a null ts is dropped before bucketing by every bucket-table reader") {
    assert(Tables.events(spark, nullTsDir).where(col("ts").isNull).count() == 1L)
    assertSame("resample30m", TimeWindows.resample30m(spark, nullTsDir),
      TimeWindows.resample30m(spark, nullTsDroppedDir), nonEmpty = true)
    for ((name, current, ref) <- consumers) {
      assertSame(name, current(nullTsDir), current(nullTsDroppedDir), nonEmpty = false)
      assertSame(s"$name against its old form", current(nullTsDir), ref(nullTsDroppedDir), nonEmpty = false)
    }
  }

  /** `leadWindow` before it read the bucket table: the (user, day) max of
    * the events, then `lead` over a series-partitioned window, then dropna. */
  private def oldLeadWindow(d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max("value").as("day_max"))
      .withColumn("next_day_max", lead(col("day_max"), 1).over(Window.partitionBy("user_id").orderBy("day")))
      .na.drop()

  /** The GBT fit frame on [[oldLeadWindow]], before its round-robin split. */
  private def oldLabeled(d: String): DataFrame =
    oldLeadWindow(d)
      .withColumn("epoch_day", unix_timestamp(col("day").cast("timestamp")) / 86400)
      .withColumn("dow", dayofweek(col("day")).cast("double"))

  /** The hour spine `ffill` and `interpolate` read before the bucket table:
    * hourly means of the events joined onto a `sequence()` of hours from
    * each series' first to last reading. */
  private def oldHourSpine(d: String): DataFrame = {
    val f = Tables.events(spark, d).where(col("user_id") < 50)
    val hourly = f
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(exactAvg(col("value")).as("avg_value"))
    f.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("mn"), date_trunc("hour", max(col("ts"))).as("mx"))
      .select(col("user_id"), explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("bucket"))
      .join(hourly, Seq("user_id", "bucket"), "left")
  }

  private val back = Window.partitionBy("user_id").orderBy("bucket")
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  private val fwd = Window.partitionBy("user_id").orderBy("bucket")
    .rowsBetween(Window.currentRow, Window.unboundedFollowing)

  private def oldFfill(d: String): DataFrame =
    oldHourSpine(d).withColumn("filled", last(col("avg_value"), ignoreNulls = true).over(back))

  private def oldInterpolate(d: String): DataFrame = {
    val markedBucket = when(col("avg_value").isNotNull, col("bucket"))
    oldHourSpine(d)
      .withColumn("prev_v", last(col("avg_value"), ignoreNulls = true).over(back))
      .withColumn("prev_b", last(markedBucket, ignoreNulls = true).over(back))
      .withColumn("next_v", first(col("avg_value"), ignoreNulls = true).over(fwd))
      .withColumn("next_b", first(markedBucket, ignoreNulls = true).over(fwd))
      .withColumn("interp",
        when(col("avg_value").isNotNull, col("avg_value"))
          .when(col("prev_v").isNull, col("next_v"))
          .when(col("next_v").isNull, col("prev_v"))
          .otherwise(col("prev_v") + (col("next_v") - col("prev_v")) *
            ((unix_timestamp(col("bucket")) - unix_timestamp(col("prev_b"))).cast("double") /
             (unix_timestamp(col("next_b")) - unix_timestamp(col("prev_b"))).cast("double"))))
      .select("user_id", "bucket", "avg_value", "interp")
  }

  /** (reader, current form, old formulation) for every reader that moved
    * from the events onto the bucket table's hours and days. */
  private val grainReaders: Seq[(String, String => DataFrame, String => DataFrame)] = Seq(
    ("TimeWindows.leadWindow", TimeWindows.leadWindow(spark, _), oldLeadWindow),
    ("TimeWindows.ffill", TimeWindows.ffill(spark, _), oldFfill),
    ("TimeWindows.interpolate", TimeWindows.interpolate(spark, _), oldInterpolate))

  /** Rows of `df` with the index of the partition holding each. */
  private def placed(df: DataFrame): Seq[(Int, String)] =
    df.rdd.mapPartitionsWithIndex((i, it) => it.map(r => (i, r.toString))).collect().sorted.toSeq

  /** The GBT fit frame equals the old one on `d`, row for row in each
    * partition of its round-robin split: the split, and so every seeded
    * fit on it, is the old one. */
  private def assertSameFitFrame(label: String, d: String): Unit = {
    val cur = Pipelines.labeledFrame(spark, d)
    try {
      val (old, parts) = (oldLabeled(d), cur.rdd.getNumPartitions)
      assertSame(s"fit frame on $label", cur, old, nonEmpty = false)
      assert(TimeWindows.leadWindow(spark, d).rdd.getNumPartitions == old.rdd.getNumPartitions,
        s"$label: leadWindow feeds the round-robin split from another partition count")
      assert(placed(cur) == placed(old.repartition(parts)), s"$label: the round-robin split differs")
    } finally { cur.unpersist(); () }
  }

  /** sf0.001 events with every value of one day of one series (below 50,
    * with at least three days) null. */
  private lazy val nullDayDir: String = {
    val d = Scratch.dir("dense_table_null_day")
    val ev = Tables.events(spark, sf).withColumn("day", to_date(col("ts")))
    val (user, day) = ev.where(col("user_id") < 50).groupBy("user_id")
      .agg(sort_array(collect_set(col("day"))).as("days"))
      .where(size(col("days")) >= 3).orderBy("user_id")
      .select(col("user_id"), element_at(col("days"), 2)).as[(Long, java.sql.Date)].head()
    ev.withColumn("value", when(col("user_id") =!= user || col("day") =!= day, col("value")))
      .drop("day").write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  /** The first 500 sf0.01 events (by event_id) with the first one's
    * user's `user_id` null, and the same table without that user's rows. */
  private lazy val (nullUserDir, nullUserDroppedDir) = {
    val (d, dropped) = (Scratch.dir("dense_table_null_user"), Scratch.dir("dense_table_null_user_dropped"))
    val ev = Tables.events(spark, sf01).orderBy("event_id").limit(500).cache()
    val user = ev.orderBy("event_id").head().getAs[Long]("user_id")
    ev.withColumn("user_id", when(col("user_id") =!= user, col("user_id")))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    ev.where(col("user_id") =!= user).write.mode("overwrite").parquet(s"$dropped/events.parquet")
    ev.unpersist()
    (d, dropped)
  }

  private val grainInputs = inputs ++ Seq("the null-ts fixture" -> (() => nullTsDir),
    "the bucket, hour and day edges" -> (() => gridEdgeDir),
    "a series with an all-null-value day" -> (() => nullDayDir),
    "a null user_id" -> (() => nullUserDir))

  for ((label, dir) <- grainInputs)
    test(s"leadWindow, ffill, interpolate and the GBT fit frame equal their old forms on $label") {
      for ((name, current, ref) <- grainReaders)
        assertSame(name, current(dir()), ref(dir()), nonEmpty = true)
      assertSameFitFrame(label, dir())
    }

  test("an all-null-value day drops itself and the day before it from leadWindow") {
    val days = oldLeadWindow(sf).select("user_id", "day").as[(Long, java.sql.Date)].collect().toSet
    val kept = TimeWindows.leadWindow(spark, nullDayDir).select("user_id", "day").as[(Long, java.sql.Date)]
      .collect().toSet
    assert(days.diff(kept).size == 2 && kept.subsetOf(days), s"dropped ${days.diff(kept)}")
  }

  test("a null user_id: no reader throws, resample30m keeps its group, the forecasts leave it out") {
    assert(Tables.events(spark, nullUserDir).where(col("user_id").isNull).count() > 0)
    assertSame("resample30m", TimeWindows.resample30m(spark, nullUserDir), windowResample(nullUserDir),
      nonEmpty = true)
    assert(!TimeWindows.resample30m(spark, nullUserDir).where(col("user_id").isNull).isEmpty)
    for ((name, current, ref) <- consumers) {
      assertSame(name, current(nullUserDir), current(nullUserDroppedDir), nonEmpty = false)
      assertSame(s"$name against its old form", current(nullUserDir), ref(nullUserDroppedDir), nonEmpty = false)
    }
  }

  /** One series (user 7) over two years of 30-min buckets from
    * 2022-01-01: a reading in every bucket but every 13th, a null value in
    * every 101st, and every 997th bucket twice. */
  private lazy val longDir: String = {
    val d = Scratch.dir("dense_table_long_series")
    spark.range(LongBuckets).where(col("id") % 13 =!= 12)
      .withColumn("r", explode(when(col("id") % 997 === 5, array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .select((col("id") * 2 + col("r")).as("event_id"),
        timestamp_micros(lit(1640995200000000L) + col("id") * 1800000000L +
          (col("id") * 7919 + col("r") * 600) % 1800 * 1000000L).as("ts"),
        lit(7L).as("user_id"), lit("view").as("event_type"),
        when(col("id") % 101 =!= 0, round(lit(50.0) + sin(col("id") * (math.Pi / 24)) * 20 + col("r"), 2)).as("value"),
        lit("""{"k": 1}""").as("props"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  test("a two-year series builds one bucket-table row, and every grain reader equals its old form on it") {
    val table = HoltForecast.bucketTable(spark, longDir)
    val lengths = table.select(size(col("bs"))).as[Int].collect().toSeq
    assert(lengths == Seq(LongBuckets - LongBuckets / 13), s"bucket arrays: $lengths")
    val schema = table.schema
    val bytes = table.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      it.map(r => unsafe(r).getSizeInBytes.toLong)
    }.collect().toSeq
    info(s"the table row of ${lengths.head} buckets over a $LongBuckets-bucket span takes ${bytes.mkString} bytes")
    assertSame("resample30m", TimeWindows.resample30m(spark, longDir), windowResample(longDir), nonEmpty = true)
    for ((name, current, ref) <- grainReaders)
      assertSame(name, current(longDir), ref(longDir), nonEmpty = true)
  }

  test("tfidfTopTerms equals the form without the doc_id exchange") {
    def oldTfidf(d: String): DataFrame = {
      val n = Tables.rowCount(spark, s"$d/documents.parquet")
      val tf = Tables.documents(spark, d)
        .select(col("doc_id"), explode(TextAnalytics.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("score", round(col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    }
    for (d <- Seq(sf, sf01))
      assertSame(s"tfidfTopTerms on $d", TextAnalytics.tfidfTopTerms(spark, d), oldTfidf(d), nonEmpty = true)
  }
}

object DenseTableSpec {
  /** Two years of 30-min buckets. */
  private val LongBuckets = 2 * 365 * 48

  private val pGrid = Seq(4, 6, 8, 10)
  private val dGrid = Seq(1, 2)
  private val qGrid = Seq(0, 1, 2)

  private def round6(v: Double): Double =
    if (java.lang.Double.isFinite(v)) BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else v
}
