package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.timeseries.HoltForecast

/** Window / time-series operator battery (SURVEY.md §2.5, A5-A7, W1-W6).
  *
  * Scale stance: the reference's `Window.partitionBy()` empty global window
  * (`/root/reference/sensor_data_regression.py:42`) is a single-partition
  * exchange — the one reference plan deliberately NOT reproduced for row
  * level data. The resample, `ffill`, `interpolate` and `leadWindow` are
  * per-row maps over the memoized one-row-per-series
  * [[HoltForecast.bucketTable]], whose 30-min buckets nest into hours and
  * UTC days; other row-level windows partition by the series key; the
  * only global window runs on day-level aggregates (≤ one row per day),
  * where a single partition is bounded by the calendar, not by volume.
  */
object TimeWindows {

  /** W1+W2 scale-safe — per-series daily max, then the next-day label
    * (the max of the series' next day with readings), then dropna
    * (cf. `sensor_data_regression.py:39-48`, with the global-window scale
    * bug fixed per SURVEY §7). A per-row map over the memoized
    * [[HoltForecast.bucketTable]], so nothing shuffles: the UTC day of
    * bucket `b` is `floorDiv(b, 48)`, and its max is the max of its bucket
    * maxes, ordered as Spark's `max` orders doubles. A day whose values
    * are all null drops itself and the day before it; a null series gives
    * no row. The Option columns keep the schema nullable. */
  def leadWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    HoltForecast.bucketTable(s, d).where(col("series").isNotNull)
      .select("series", "bs", "mxs").as[(Long, Array[Long], Array[Option[Double]])]
      .flatMap { case (k, bs, mxs) =>
        val days = bs.indices.groupBy(i => Math.floorDiv(bs(i), 48L)).toSeq.sortBy(_._1).map {
          case (day, is) => (day.toInt, is.flatMap(mxs(_)).reduceOption((m, v) =>
            if (v > m || (v.isNaN && !m.isNaN)) v else m))
        }
        days.zip(days.drop(1)).collect {
          case ((day, Some(mx)), (_, Some(next))) => (Option(k), Option(day), Option(mx), Option(next))
        }
      }
      .toDF("user_id", "day", "day_max", "next_day_max")
      .withColumn("day", date_from_unix_date(col("day")))
  }

  /** W1 parity — the reference's GLOBAL ordered window, kept semantically
    * but applied after day-level aggregation so the single partition holds
    * ≤ one row per calendar day (bounded at any data scale). */
  def leadGlobal(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(max("value").as("day_max"))
    val w = Window.orderBy("day")
    daily
      .withColumn("next_day_max", lead(col("day_max"), 1).over(w))
      .na.drop()
  }

  /** W3+A7 — 30-minute tumbling-window resample with mean, per series
    * (cf. pandas `resample('30T').mean()`,
    * `spark_pandas_timeseries_forecast.py:34-35`): the rows of the
    * memoized [[graft.timeseries.HoltForecast.bucketTable]], the same
    * per-series bucket statistics the forecasts interpolate, so one scan
    * and one exchange serve both. The bucket start is the epoch micros
    * floored to 30 minutes, which is `window(ts, "30 minutes").start`
    * also before 1970; rows with a null `ts` are dropped, as `window()`
    * drops them; a null `user_id` is a series of its own, as in a
    * `window()` group. The `coalesce` keeps `n` a non-null count. */
  def resample30m(s: SparkSession, d: String): DataFrame =
    HoltForecast.bucketTable(s, d)
      .select(col("series"), inline(arrays_zip(col("bs"), col("ys"), col("ns"), col("mxs"))))
      .select(col("series").as("user_id"),
        timestamp_micros(col("bs") * HoltForecast.BucketMicros).as("bucket"),
        col("ys").as("avg_value"), coalesce(col("ns"), lit(0L)).as("n"), col("mxs").as("max_value"))

  /** The hour spine of every series below 50 as rows `(user_id, bucket,
    * avg_value, <name>)`: one row per hour from the hour of its first
    * 30-min bucket to the hour of its last (hour = `floorDiv(b, 2)`, the
    * `date_trunc('hour', ts)` of its readings), the hour's `exactAvg` —
    * the DECIMAL cent sum of its buckets over their summed row counts, or
    * null — and `fill` of the series' hourly means. A per-row map over the
    * memoized [[HoltForecast.bucketTable]], so nothing shuffles. */
  private def hourly(s: SparkSession, d: String, name: String)(
      fill: Array[Option[Double]] => Seq[Option[Double]]): DataFrame = {
    import s.implicits._
    HoltForecast.bucketTable(s, d).where(col("series") < 50)
      .select("series", "bs", "ns", "cs").as[(Long, Array[Long], Array[Long], Array[Option[Long]])]
      .flatMap { case (k, bs, ns, cs) =>
        val h0 = Math.floorDiv(bs.head, 2L)
        val hours = (Math.floorDiv(bs.last, 2L) - h0 + 1).toInt
        val (cents, counts, known) = (new Array[Long](hours), new Array[Long](hours), new Array[Boolean](hours))
        for (i <- bs.indices; h = (Math.floorDiv(bs(i), 2L) - h0).toInt) {
          counts(h) += ns(i)
          cs(i).foreach { c => cents(h) = Math.addExact(cents(h), c); known(h) = true }
        }
        val means = Array.tabulate(hours)(h =>
          Option.when(known(h))(java.math.BigDecimal.valueOf(cents(h), 2).doubleValue / counts(h)))
        means.iterator.zip(fill(means)).zipWithIndex.map { case ((m, f), i) => (Option(k), h0 + i, m, f) }
      }
      .toDF("user_id", "bucket", "avg_value", name)
      .withColumn("bucket", timestamp_micros(col("bucket") * 3600000000L))
  }

  /** W4 — forward-fill over gaps: each hour of the [[hourly]] spine takes
    * the last non-null mean at or before it (cf. pandas `.ffill()`,
    * `pandas_timeseries_forecast.py:65`). */
  def ffill(s: SparkSession, d: String): DataFrame =
    hourly(s, d, "filled")(_.toSeq.scanLeft(Option.empty[Double])((last, m) => m.orElse(last)).tail)

  /** W5 — linear interpolation over gaps of the [[hourly]] spine: an hour
    * between two non-null means takes the direct lerp of
    * [[HoltForecast.interpolateBuckets]] (the IEEE expression order of the
    * oracle's `prev + (next - prev) * (Δt / span)` window frames), an hour
    * before the first or after the last takes that mean, and a series with
    * no mean stays null (cf. pandas `.interpolate('linear')`,
    * `spark_pandas_timeseries_forecast.py:34-35`). */
  def interpolate(s: SparkSession, d: String): DataFrame =
    hourly(s, d, "interp") { means =>
      val known = means.indices.filter(means(_).isDefined)
      if (known.isEmpty) means.toSeq
      else {
        val inner = HoltForecast.interpolateBuckets(known.map(i => i.toLong -> means(i).get).toMap)
        means.indices.map(i => Some(inner(math.min(math.max(i, known.head), known.last) - known.head)))
      }
    }

  /** A5 — exact per-group quantiles (the reference's `approxQuantile` probe
    * `sensor_data_etl.py:95-98`, fixed to be per-column rather than its
    * copy-paste all-H2S bug, and made exact so a DuckDB oracle can check
    * it; the sketch variant is `approxQuantileProbe` below). */
  def quantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(round(expr("percentile(value, 0.25)"), 4).as("p25"),
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.75)"), 4).as("p75"))

  /** A5 sketch form — Greenwald-Khanna approxQuantile exactly as the
    * reference calls it (relativeError 0.25), per column. Driver-side
    * Array result, so exposed for tests/bench rather than the oracle. */
  def approxQuantileProbe(s: SparkSession, d: String): Map[String, Array[Double]] = {
    val wide = Relational.pivotFill(s, d)
    Seq("click", "error", "purchase", "view")
      .map(c => c -> wide.stat.approxQuantile(c, Array(0.25, 0.75), 0.25))
      .toMap
  }

  /** A6 — quantile trim, rank-exact: keep the middle two quartiles by
    * ntile(4) over a (value, unique-id) order — same intent as the pandas
    * `[q.2, q.8]` trim (`spark_pandas_timeseries_forecast.py:37`) but
    * deterministic (no interpolated boundary). */
  def quantileTrim(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, d)
      .withColumn("q", ntile(4).over(w))
      .where(col("q").isin(2, 3))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_trimmed"))
  }

  /** A6 scale path — sketch-based quantile trim: per-group GK-sketch
    * boundaries (partial-aggregating, no sort) broadcast back onto the
    * rows. The exact ntile form above is the oracle-able variant, but its
    * per-group full sort is the one step that cannot scale when a single
    * group holds a large fraction of the data; this is the 100 TB form. */
  def quantileTrimSketch(s: SparkSession, d: String,
      pLo: Double = 0.25, pHi: Double = 0.75): DataFrame = {
    val ev = Tables.events(s, d)
    val bounds = ev.groupBy("event_type")
      .agg(expr(s"approx_percentile(value, $pLo, 10000)").as("q_lo"),
        expr(s"approx_percentile(value, $pHi, 10000)").as("q_hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .where(col("value") >= col("q_lo") && col("value") <= col("q_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_trimmed"))
  }

  /** [[quantileTrimSketch]] re-gated at its VERDICT POINT (r13 verdict
    * #2): the GK estimates (and therefore the trimmed n/sum) are engine-
    * and merge-order-specific, but the sketch's rank-error contract is
    * exact — so the gate emits the exact per-type row count plus
    * booleans asserting (a) each boundary estimate's exact rank window
    * sits within p·n ± (2n/accuracy + 2) (the [[sketchRankVerdicts]]
    * slack convention) and (b) the kept middle band holds ~50% of the
    * rows within twice that slack. The DuckDB oracle derives n_total
    * and pins the booleans to TRUE. */
  def quantileTrimSketchVerdict(s: SparkSession, d: String,
      pLo: Double = 0.25, pHi: Double = 0.75,
      accuracy: Int = 10000): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      .where(col("value").isNotNull)
    val bounds = ev.groupBy("event_type")
      .agg(expr(s"approx_percentile(value, $pLo, $accuracy)").as("q_lo"),
        expr(s"approx_percentile(value, $pHi, $accuracy)").as("q_hi"))
    trimRankVerdicts(ev, bounds, pLo, pHi, accuracy)
  }

  /** The verdict half of [[quantileTrimSketchVerdict]], split out (the
    * [[sketchRankVerdicts]] pattern) so specs can feed deliberately
    * broken boundary estimates and watch the booleans flip. `bounds`
    * carries (event_type, q_lo, q_hi). */
  private[graft] def trimRankVerdicts(ev: DataFrame, bounds: DataFrame,
      pLo: Double, pHi: Double, accuracy: Int): DataFrame = {
    val agg = ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("value") < col("q_lo"), 1L).otherwise(0L)).as("lo_lt"),
        sum(when(col("value") <= col("q_lo"), 1L).otherwise(0L)).as("lo_le"),
        sum(when(col("value") < col("q_hi"), 1L).otherwise(0L)).as("hi_lt"),
        sum(when(col("value") <= col("q_hi"), 1L).otherwise(0L)).as("hi_le"),
        sum(when(col("value") >= col("q_lo") && col("value") <= col("q_hi"),
          1L).otherwise(0L)).as("n_kept"))
    val slack = lit(2.0) * col("n_total") / accuracy + 2
    def ok(lo: Column, hi: Column, target: Column): Column =
      (lo <= ceil(target + slack)) && (hi >= floor(target - slack))
    agg.select(col("event_type"), col("n_total"),
      ok(col("lo_lt"), col("lo_le"), lit(pLo) * col("n_total")).as("ok_lo"),
      ok(col("hi_lt"), col("hi_le"), lit(pHi) * col("n_total")).as("ok_hi"),
      (abs(col("n_kept") - lit(pHi - pLo) * col("n_total"))
        <= lit(2.0) * slack + 2).as("kept_frac_ok"))
  }

  /** Mergeable-quantile-sketch contract gate: approx_percentile's
    * state (Greenwald-Khanna summaries) is a MERGEABLE aggregate — the
    * property that makes sketch quantiles work at 100 TB, where
    * per-partition summaries combine up a tree instead of any node
    * sorting the data. The estimates themselves are engine- and
    * merge-order-specific, so (per the q_hll_merge / Bloom-superset
    * pattern) the gate emits what IS engine-free: the sketch's rank
    * -error CONTRACT, checked exactly. Two sketches are built per
    * (event_type, percentile) — one over the natural parquet layout,
    * one over a hash-repartitioned layout (13 partitions, a genuinely
    * different partial-merge tree) — then one pass over the values
    * computes each estimate's exact rank window [count(<est),
    * count(≤est)], and the gate emits per-row booleans asserting the
    * rank sits within p·n ± (2n/accuracy + 2) for BOTH sketches. The
    * oracle pins both verdicts to literal TRUE plus the exact n: an
    * estimate outside its guarantee, under either merge tree, flips a
    * boolean and fails the hash. Slack is 2/accuracy (double the GK
    * bound) to be definition-agnostic about the rank convention —
    * still ~4 ranks at n=10⁴ vs the hundreds any real sketch bug
    * produces. */
  private val SketchPs = Seq(0.5, 0.9, 0.99)

  def quantileSketchMerge(s: SparkSession, d: String,
      accuracy: Int = 10000): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    def ests(df: DataFrame, name: String): DataFrame = df
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), array(SketchPs.map(lit): _*),
        lit(accuracy)).as("est"))
      .select(col("event_type"), posexplode(col("est")).as(Seq("qi", name)))
    val both = ests(ev, "est_nat")
      .join(ests(ev.repartition(13, col("event_type"), col("value")), "est_rep"),
        Seq("event_type", "qi"))
    sketchRankVerdicts(ev, both, accuracy)
  }

  /** The exact-rank verdict half of [[quantileSketchMerge]] (split out
    * so specs can feed deliberately broken estimates and watch the
    * booleans flip): `both` carries (event_type, qi, est_nat, est_rep),
    * one pass over `ev` counts each estimate's rank window. */
  private[graft] def sketchRankVerdicts(ev: DataFrame, both: DataFrame,
      accuracy: Int): DataFrame = {
    def ok(lo: Column, hi: Column, target: Column, slack: Column): Column =
      (lo <= ceil(target + slack)) && (hi >= floor(target - slack))
    val p = element_at(array(SketchPs.map(lit): _*), col("qi") + 1)
    ev.join(broadcast(both), Seq("event_type"))
      .groupBy("event_type", "qi")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("est_nat"), 1L).otherwise(0L)).as("lo_nat"),
        sum(when(col("value") <= col("est_nat"), 1L).otherwise(0L)).as("hi_nat"),
        sum(when(col("value") < col("est_rep"), 1L).otherwise(0L)).as("lo_rep"),
        sum(when(col("value") <= col("est_rep"), 1L).otherwise(0L)).as("hi_rep"))
      .select(col("event_type"), p.as("qtile"), col("n"),
        ok(col("lo_nat"), col("hi_nat"), p * col("n"),
          lit(2.0) * col("n") / accuracy + 2).as("ok_natural"),
        ok(col("lo_rep"), col("hi_rep"), p * col("n"),
          lit(2.0) * col("n") / accuracy + 2).as("ok_merged"))
  }

  /** W6 — additive seasonal decomposition as a window/agg composition
    * (cf. statsmodels `seasonal_decompose`,
    * `pandas_timeseries_forecast.py:103-104`): trend = centered moving
    * average (±halfWindow days over the daily series), seasonal = mean
    * deviation per (day-index mod period), resid = value - trend -
    * seasonal. Defaults (±3, day-of-week) suit the 30-day testdata; the
    * reference's freq=365 form is `seasonalDecompose(s, d, 182, 365)`
    * (VERDICT r2 item 10). */
  def seasonalDecompose(s: SparkSession, d: String,
      halfWindow: Int = 3, period: Int = 7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // Window means over doubles are order-dependent; routing each mean
    // through DECIMAL(24,8) keeps every component bit-deterministic (see
    // operators package doc) without changing the math materially.
    def decMean(c: org.apache.spark.sql.Column, over: org.apache.spark.sql.expressions.WindowSpec) =
      sum(c.cast(DecimalType(24, 8))).over(over).cast("double") / count(lit(1)).over(over)
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(exactAvg(col("value")).as("day_avg"))
    val wTrend = Window.orderBy("day").rowsBetween(-halfWindow, halfWindow)
    // season key: calendar day-of-week for the weekly default (matches the
    // oracle SQL); epoch-day mod period otherwise (e.g. 365 → day-of-year
    // phase). Both partition days into `period` stable classes.
    val seasonKey =
      if (period == 7) dayofweek(col("day"))
      else pmod(datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))), lit(period))
    val withTrend = daily
      .withColumn("trend", decMean(col("day_avg"), wTrend))
      .withColumn("dev", col("day_avg") - col("trend"))
      .withColumn("dow", seasonKey)
    val wSeason = Window.partitionBy("dow")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    withTrend
      .withColumn("seasonal", decMean(col("dev"), wSeason))
      .withColumn("resid", col("dev") - col("seasonal"))
      .select("day", "day_avg", "trend", "dow", "seasonal", "resid")
  }

  /** HOPPING (sliding) window aggregation: 30-minute windows advancing
    * every 10 minutes — each event lands in exactly duration/slide = 3
    * overlapping windows, the smoothed-trend form of the tumbling
    * resample (W3). Spark's `window(ts, dur, slide)` expands the
    * epoch-aligned window set as a PROJECTION (bounded 3× fan-out, no
    * UDF, stays in whole-stage codegen) before the one groupBy shuffle —
    * the same cost shape as a tumbling window at 3× rows. The DuckDB
    * oracle re-derives the window grid with integer epoch-micros
    * floor-division, so window membership is exact on both engines. */
  def hoppingCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), exactSum(col("value")).as("value_sum"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("value_sum"))

  /** Trailing exponentially-weighted moving average per user series —
    * the pandas `ewm(alpha=1/2, adjust=True)` smoother bounded to the
    * last `terms` observations (the bound is what keeps it a plain
    * ROWS-frame window instead of a sequential per-series recursion;
    * with α = 1/2 the dropped tail weighs < 2⁻⁸ of the total). α = 1/2
    * makes every weight an exact dyadic double, the numerator is a
    * FIXED-ORDER 8-term sum (reduceLeft, mirrored left-associative in
    * the oracle), and the denominator Σ 0.5^i over the non-null lags is
    * exact — so the raw double hash-matches cross-engine with no
    * rounding key (the q_correlation discipline). Rows earlier than
    * `terms` in their series just normalize over the lags that exist.
    * One shuffle on the series key; the frame is O(terms) state per
    * row at any scale. */
  def ewma(s: SparkSession, d: String, terms: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val lags = (0 until terms).map(i => lag(col("value"), i).over(w))
    val weights = (0 until terms).map(i => math.pow(0.5, i))
    val num = lags.zip(weights)
      .map { case (l, wt) => coalesce(l * lit(wt), lit(0.0)) }
      .reduceLeft(_ + _)
    val den = lags.zip(weights)
      .map { case (l, wt) => when(l.isNotNull, lit(wt)).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    Tables.events(s, d)
      .withColumn("ewma", num / den)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"), col("ewma"))
  }

  /** SAX (Symbolic Aggregate approXimation) per (event_type, day): the
    * day's value series → 8 three-hour PAA segments → one 8-letter word
    * over the 4-symbol alphabet, cut at the N(0,1) quartile breakpoints
    * ±0.6745 after per-day z-normalisation — the classic symbolic index
    * a series store builds so "find days shaped like this one" becomes
    * an equality join on `sax_word` instead of a distance scan
    * (Lin/Keogh/Lonardi/Chiu, DMKD 2007). Exactness: all means come
    * from exact integer cent sums carried in DECIMAL(38,0) (no LONG
    * overflow at any volume — the overflow-proof [[graft.operators.Analytics.acf]]
    * variant), z is one fixed divide/sqrt tree rounded at 6 dp before
    * the breakpoint compare, and flat days (σ=0) read 'b'. Empty
    * segments print '_' so the word is always length 8. Scale shape:
    * one scan → groupBy(type, day, segment) partial agg → |types|·days
    * ·8 rows → one 8-column conditional pivot per (type, day). */
  def sax(s: SparkSession, d: String): DataFrame = {
    val segs = 0 to 7
    val ev = Tables.events(s, d).select(
      col("event_type"), to_date(col("ts")).as("day"),
      expr("hour(ts) div 3").as("seg"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("x"))
    // r18: Σx² rides the SAME segment partial agg (one more DECIMAL(38,0)
    // column on |types|·days·8 groups) instead of a second full events
    // scan + (type, day) join — identical integers, since decimal sums
    // are exact and Σ over segments of per-segment Σx² = the day's Σx².
    // The extra column costs 16 bytes per segment GROUP on the wire; the
    // scan it removes costs a full pass over the fact table (guide §1.2
    // step 1 / §2.4: one scan, one shuffle, no join).
    val segAgg = ev.groupBy("event_type", "day", "seg")
      .agg(count(lit(1)).as("sn"),
        sum(col("x").cast("decimal(38,0)")).as("ssx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("ssxx"))
    val dayCols = Seq(sum("sn").as("n"), sum("ssx").as("sx"),
      sum("ssxx").as("sxx")) ++
      segs.map(i => max(when(col("seg") === i,
        col("ssx").cast("double") / col("sn"))).as(s"m$i"))
    val dayAgg = segAgg.groupBy("event_type", "day")
      .agg(dayCols.head, dayCols.tail: _*)
    val mu = col("sx").cast("double") / col("n")
    // var ≤ 0 (incl. the tiny-negative cancellation case on a flat day)
    // short-circuits to 'b' BEFORE sqrt, so z is never NaN
    val varc = col("sxx").cast("double") / col("n") - mu * mu
    def sym(i: Int): Column = {
      val z = round((col(s"m$i") - mu) / sqrt(varc), 6)
      when(col(s"m$i").isNull, lit("_"))
        .when(varc <= 0.0, lit("b"))
        .when(z < -0.6745, lit("a")).when(z < 0.0, lit("b"))
        .when(z < 0.6745, lit("c")).otherwise(lit("d"))
    }
    dayAgg
      .select(col("event_type"), col("day"), col("n"),
        concat(segs.map(sym): _*).as("sax_word"))
  }

  /** The SAX index being USED: for every (type, day), how many OTHER
    * series-days share its exact word — "find days shaped like this
    * one" as an EQUALITY join on `sax_word` (one hash shuffle on an
    * 8-char key over the |series|·days word table) instead of a
    * pairwise distance scan. This is the whole point of symbolizing:
    * at 100 TB the word table is still only one row per series-day,
    * and shape lookup is a co-partitioned join, not an O(n²) sweep. */
  def saxJoin(s: SparkSession, d: String): DataFrame = {
    // r18: mate counting is a COUNT OVER (PARTITION BY sax_word) window
    // on the word table, not a groupBy + self-join — the join form
    // evaluated the whole [[sax]] aggregation subtree TWICE (the before
    // plan scanned events 4×: 2 scans per sax() call × 2 join branches;
    // guide §2.4 "two operations keyed the same way share one
    // exchange"). One scan, one word-table shuffle on sax_word, same
    // integers: count(*) over the word partition = the joined n_days.
    val wMates = Window.partitionBy("sax_word")
    sax(s, d)
      .select(col("event_type"), col("day"), col("sax_word"),
        (count(lit(1)).over(wMates) - lit(1L)).as("n_mates"))
  }

  /** Sakoe-Chiba banded dynamic time warping between each day's 48-slot
    * 30-min mean profile and the PREVIOUS day's — "how far did today's
    * shape drift from yesterday's, allowing small time misalignment"
    * (the drift question q_psi answers for value DISTRIBUTIONS, asked
    * of series SHAPE; Sakoe & Chiba, IEEE TASSP 1978). Consecutive-day
    * pairing keeps the pair count LINEAR in series-days — no pair
    * explosion; an all-pairs shape search belongs to [[saxJoin]]'s
    * equality-join index, with DTW as its verify stage. Plan: one scan
    * → groupBy(type, day) with 48 conditional slot means from exact
    * cent sums (missing slots densified to the day mean) → a
    * series-key lag window → a typed per-row kernel (the
    * HoltForecast pattern: O(48·band) per row, no state across rows).
    * The slot of the day is a `pmod`, so a reading before 1970 lands in
    * 0..47 too. Oracle: `q_dtw_shift` replays the banded DP in DuckDB;
    * DtwSpec pins identity, symmetry, the unbanded O(n²) reference, and
    * a hand-built warp example. */
  def dtwDayShift(s: SparkSession, d: String, band: Int = 4): DataFrame = {
    val slotUs = 1800000000L
    val dayUs = 86400000000L
    val ev = Tables.events(s, d).select(
      col("event_type"), to_date(col("ts")).as("day"),
      expr(s"pmod(unix_micros(ts), $dayUs) div $slotUs").as("slot"),
      expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("x"))
    val slots = 0 until 48
    val aggCols =
      Seq(sum(col("x").cast("decimal(38,0)")).as("sx"),
        count(lit(1)).as("n")) ++
      slots.flatMap(i => Seq(
        sum(when(col("slot") === i, col("x")).otherwise(0L))
          .cast("decimal(38,0)").as(s"s$i"),
        sum(when(col("slot") === i, 1L).otherwise(0L)).as(s"c$i")))
    val dayMean = col("sx").cast("double") / col("n")
    val profile = ev.groupBy("event_type", "day")
      .agg(aggCols.head, aggCols.tail: _*)
      .select(col("event_type"), col("day"),
        array(slots.map(i =>
          when(col(s"c$i") > 0, col(s"s$i").cast("double") / col(s"c$i"))
            .otherwise(dayMean)): _*).as("cur"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    val paired = profile
      .withColumn("prev", lag(col("cur"), 1).over(byDay))
      .where(col("prev").isNotNull)
    val s2 = s
    import s2.implicits._
    paired.select("event_type", "day", "cur", "prev")
      .as[(String, java.sql.Date, Seq[Double], Seq[Double])]
      .map { case (t, day, cur, prev) =>
        (t, day, math.sqrt(TimeWindows.dtwSq(cur.toArray, prev.toArray, band)))
      }
      .toDF("event_type", "day", "dtw_dist")
  }

  /** Banded squared-distance DTW kernel (Sakoe-Chiba |i−j| ≤ band).
    * O(n·band) time, two rolling rows of memory — per-executor-row
    * cost is constant, which is what lets [[dtwDayShift]] run as a
    * narrow typed map at any series count. */
  private[graft] def dtwSq(a: Array[Double], b: Array[Double], band: Int): Double = {
    val n = a.length; val m = b.length
    val inf = Double.PositiveInfinity
    var prev = Array.fill(m + 1)(inf)
    var cur = Array.fill(m + 1)(inf)
    prev(0) = 0.0
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      var j = math.max(1, i - band)
      val jMax = math.min(m, i + band)
      while (j <= jMax) {
        val c = (a(i - 1) - b(j - 1)) * (a(i - 1) - b(j - 1))
        cur(j) = c + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}
