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
  * level data. Every row-level window here partitions by the series key
  * (user_id); the only global window runs on day-level aggregates (≤ one
  * row per day), where a single partition is bounded by the calendar, not
  * by data volume.
  */
object TimeWindows {

  /** W1+W2 scale-safe — daily per-series max, then next-day label via
    * lead() over a window PARTITIONED BY the series key, then dropna
    * (cf. `sensor_data_regression.py:39-48`, with the global-window
    * scale bug fixed per SURVEY §7). */
  def leadWindow(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(max("value").as("day_max"))
    val w = Window.partitionBy("user_id").orderBy("day")
    daily
      .withColumn("next_day_max", lead(col("day_max"), 1).over(w))
      .na.drop()
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
    * drops them. The `when`/`coalesce` keep the old nullability:
    * `user_id` as read from parquet, `n` a count. */
  def resample30m(s: SparkSession, d: String): DataFrame =
    HoltForecast.bucketTable(s, d)
      .select(col("series"), inline(arrays_zip(col("bs"), col("ys"), col("ns"), col("mxs"))))
      .select(when(col("series").isNotNull, col("series")).as("user_id"),
        timestamp_micros(col("bs") * HoltForecast.BucketMicros).as("bucket"),
        col("ys").as("avg_value"), coalesce(col("ns"), lit(0L)).as("n"), col("mxs").as("max_value"))

  /** Hourly per-series means joined onto a dense per-series hour spine
    * (generated with `sequence()` — the distributed analog of a pandas
    * DatetimeIndex). Missing hours surface as null means, ready for
    * ffill/interpolation. */
  private def hourSpine(s: SparkSession, d: String): DataFrame = {
    val f = Tables.events(s, d).where(col("user_id") < 50)
    val hourly = f
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(exactAvg(col("value")).as("avg_value"))
    val spine = f
      .groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("mn"),
        date_trunc("hour", max(col("ts"))).as("mx"))
      .select(col("user_id"),
        explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("bucket"))
    spine.join(hourly, Seq("user_id", "bucket"), "left")
  }

  /** W4 — forward-fill over gaps: last non-null over an ordered,
    * series-partitioned, unbounded-preceding frame
    * (cf. pandas `.ffill()`, `pandas_timeseries_forecast.py:65`). */
  def ffill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourSpine(s, d)
      .withColumn("filled", last(col("avg_value"), ignoreNulls = true).over(w))
  }

  /** W5 — linear interpolation over gaps: previous/next non-null value and
    * their bucket epochs via ignoreNulls last/first over forward/backward
    * frames, then the standard lerp
    * (cf. pandas `.interpolate('linear')`,
    * `spark_pandas_timeseries_forecast.py:34-35`). */
  def interpolate(s: SparkSession, d: String): DataFrame = {
    val back = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy("user_id").orderBy("bucket")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val markedBucket = when(col("avg_value").isNotNull, col("bucket"))
    hourSpine(s, d)
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
