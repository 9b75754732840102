package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.etl.SensorEtl
import graft.functions.TextAnalytics
import graft.ml.Pipelines
import graft.operators.{Dedup, Relational, Similarity, TemporalJoins, TimeWindows}
import graft.timeseries.HoltForecast
import OracleCtes._

/** Windows, resampling, quantiles, temporal joins and the grouped
  * forecasting kernels — gate rows: `queries` entries + their DuckDB
  * oracles (keys without an oracle are spec-pinned; see SparkEntry
  * scaladoc for the determinism contract). */
object WindowGates {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quantile"       -> (TimeWindows.quantiles _),
    "q_quantile_trim"  -> (TimeWindows.quantileTrim _),
    // sketch twin re-gated at its verdict point (r14): exact n_total +
    // rank-window booleans, oracle-exact; the raw trimmed-sum form
    // stays pinned by TimeWindowsSpec
    "q_quantile_trim_sketch" -> ((s: SparkSession, d: String) => TimeWindows.quantileTrimSketchVerdict(s, d)),
    // mergeable GK sketch contract: rank-error bound holds under two
    // different partial-merge trees, verdicts oracle-pinned to TRUE
    "q_quantile_sketch_merge" -> ((s: SparkSession, d: String) => TimeWindows.quantileSketchMerge(s, d)),
    // windows / time series (W1-W6, A7)
    "q_lead_window"    -> (TimeWindows.leadWindow _),
    "q_lead_global"    -> (TimeWindows.leadGlobal _),
    "q_resample_30m"   -> (TimeWindows.resample30m _),
    "q_ffill"          -> (TimeWindows.ffill _),
    "q_interpolate"    -> (TimeWindows.interpolate _),
    "q_seasonal_decompose" -> ((s: SparkSession, d: String) => TimeWindows.seasonalDecompose(s, d)),
    // typed grouped forecasting kernel (U1/U2 replacement)
    "q_holt_prep"      -> ((s: SparkSession, d: String) => HoltForecast.prep(s, d)),
    "q_holt_forecast"  -> ((s: SparkSession, d: String) => HoltForecast.forecast(s, d)),
    "q_ar_forecast"    -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.forecast(s, d)),
    // memoized (r16): one grid build shared with q_forecast_cv's
    // lockstep join — identical rows to the raw holtGridSearch
    "q_holt_gridsearch" -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.holtGridSearchMemo(s, d)),
    // ARIMA grid search re-gated at its verdict point (r15): exact grid
    // literals + eligible-universe integers + selection-contract
    // booleans, oracle-exact; raw winners/forecasts stay pinned by
    // ArForecastSpec through arimaGridSearch
    "q_arima_gridsearch" -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.arimaGridSearchVerdict(s, d)),
    // ARIMA-vs-Holt cross-validation re-gated at its verdict point
    // (r15): the per-series MSEs are JVM float folds (the ARIMA side's
    // Hannan-Rissanen OLS solve is not SQL-replayable), so the gate
    // emits the exact eligible universe + the cross-gate lockstep
    // booleans (CV MSEs equal to BOTH family gates' emissions, winner /
    // ratio exactly consistent) — ForecastCvSpec keeps pinning raw
    // consistency, planted winners, and bit-equality at spec scale
    // through forecastCv
    "q_forecast_cv" -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.forecastCvVerdict(s, d)),
    // Holt-Winters additive-seasonal (daily m=48 season over the 30-min
    // grid; oracled: a list_reduce fold replays the triple
    // smoothing — HwSeasonalSpec additionally pins exact-seasonal
    // recovery, determinism, and the seasonal-beats-Holt MSE ordering)
    "q_hw_seasonal" -> ((s: SparkSession, d: String) => HoltForecast.hwForecast(s, d)),
    // CSS refinement of the HR start at the grid-chosen (p,d,q): both
    // conditional MSEs per series.
    //
    // ORACLE IMPOSSIBILITY NOTE (r12 verdict #7, decided with receipts):
    // the full grid + CSS composite cannot be DuckDB-replayed within the
    // driver's oracle budget, for three independent reasons. (1) The
    // 24-combo grid makes the long-AR order m and the solve size k = p+q
    // DATA-DEPENDENT (m up to 24, k up to 12) — the unrolled-Levinson /
    // unrolled-elimination device requires fixed depths. (2) solveRidge
    // pivots by |column| maximum at every elimination step: at k = 12
    // that is 12 data-dependent row permutations of a 12×12 matrix,
    // expressible only by carrying the whole matrix as list state
    // through k² recursion steps per combo × 24 combos. (3) cssRefine's
    // accept/reject coordinate descent runs 4 rounds × k coords × 2
    // full-series conditional-residual DPs — ~100 sequential folds, each
    // over parameters set by the previous fold's accept/reject outcome
    // at the data-dependent (p, q) of (1) and (2). What IS replayable is
    // oracled: the fixed-order estimation core (q_arma_hr below — HR at
    // ARMA(2,1), m pinned to 10, 3×3 pivoted solve unrolled), the
    // pivot-free AR specialization (q_ar_forecast) — and, since r15,
    // this gate's VERDICT POINT: the exact eligible universe (count +
    // dense-length sum via n + d) and the descent contract (CSS never
    // worse than the HR start; orders inside the grid) as oracle-pinned
    // booleans. The raw per-series conditional MSEs stay pinned by
    // ArimaCssSpec + ForecastCvSpec's MSE bit-equality against the
    // oracle-exact Holt side, through arimaCss.
    "q_arima_css" -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.arimaCssVerdict(s, d)),
    // Hannan-Rissanen at fixed ARMA(2,1), d=1 — the oracle-able
    // estimation core (raw mean/phi/theta per series)
    "q_arma_hr" -> ((s: SparkSession, d: String) => graft.timeseries.ArForecast.armaHrFixed(s, d)),
    // temporal joins (composition operators; oracled vs DuckDB ASOF JOIN)
    "q_asof_join"      -> (TemporalJoins.asofJoin _),
    "q_range_join"     -> ((s: SparkSession, d: String) => TemporalJoins.rangeJoin(s, d)),
    "q_sessionize"     -> ((s: SparkSession, d: String) => TemporalJoins.sessionize(s, d)),
    "q_rolling_stats"  -> ((s: SparkSession, d: String) => TemporalJoins.rollingStats(s, d)),
    // trailing-window z-score outliers (DECIMAL-exact moments, |z| >= 3)
    "q_anomaly_zscore" -> ((s: SparkSession, d: String) => TemporalJoins.anomalyZscore(s, d)),
    // exact per-series changepoint (argmax |mean-left − mean-right| over
    // all splits; integer-cents cumsums → bit-stable score, ties → min k)
    "q_changepoint"    -> ((s: SparkSession, d: String) => TemporalJoins.changepoint(s, d)),
    // trailing ONE-HOUR time-range window (RANGE frame over epoch-micros
    // — the irregular-sampling form the ROWS frame can't express)
    "q_window_range"   -> (TemporalJoins.rangeRollingStats _),
    // hopping 30-min/10-min windows (3× overlap, epoch-aligned grid)
    "q_hopping"        -> (TimeWindows.hoppingCounts _),
    // SCD2 dimension-history intervals from the append-only event log
    "q_scd2"           -> (TemporalJoins.scd2Intervals _),
    // gaps-and-islands interval merge (running-max-end island boundary;
    // exact epoch-micros, one shuffle)
    "q_interval_merge" -> ((s: SparkSession, d: String) =>
      TemporalJoins.mergeIntervals(s, d)),
    // FORWARD as-of (next dim row at-or-after each event; mirrored
    // union-window composition vs DuckDB's native ASOF <= form)
    "q_asof_forward"   -> (TemporalJoins.asofForward _),
    // trailing-hour DISTINCT type count (collect_set over the RANGE
    // frame — the cardinality twin of q_window_range)
    "q_window_distinct" -> (TemporalJoins.rangeDistinctTypes _),
    // trailing-8 EWMA per user series (α = 1/2, exact dyadic weights,
    // fixed-order lag sum — raw doubles hash-match, no rounding key)
    "q_ewma"           -> ((s: SparkSession, d: String) => TimeWindows.ewma(s, d)),
    // SAX symbolic index per (type, day): 8×3h PAA segments → 4-symbol
    // word at the ±0.6745 breakpoints (exact cent sums, z rounded 6 dp)
    "q_sax"            -> ((s: SparkSession, d: String) => TimeWindows.sax(s, d)),
    // shape-mates via an EQUALITY join on sax_word — the symbolic index
    // replacing a distance scan (the reason the index exists)
    "q_sax_join"       -> ((s: SparkSession, d: String) => TimeWindows.saxJoin(s, d)),
    // banded DTW day-over-day shape drift (48-slot profiles, |i−j| ≤ 4;
    // oracled: the DP is a fixed cell order over exact cent-sum
    // profiles, replayed cell-by-cell by a LIST-carrying recursive CTE;
    // DtwSpec additionally pins the kernel against the unbanded O(n²)
    // reference, identity, symmetry, a hand warp)
    "q_dtw_shift"      -> ((s: SparkSession, d: String) => TimeWindows.dtwDayShift(s, d)),
  )

  /** Eligible-series universe CTEs shared by the three ARIMA-composite
    * verdict oracles (r15): dense 30-min bucket span per series over its
    * buckets with a value (the q_holt_prep span) and the grid-search
    * length rule `floor(0.8·nb) ≥ pMax + dMax + qMax + 2 = 16` applied
    * as a literal computed from the default grids (p ≤ 10, d ≤ 2, q ≤ 2). */
  private val ArimaEligibleCtes =
    s"""bounds AS (
      |  SELECT user_id AS series, max($Bucket30m) - min($Bucket30m) + 1 AS nb
      |  FROM events WHERE value IS NOT NULL GROUP BY 1),
      |el AS (SELECT nb FROM bounds WHERE CAST(floor(0.8 * nb) AS BIGINT) >= 16),
      |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_series,
      |  CAST(COALESCE(sum(nb), 0) AS BIGINT) AS sum_n_buckets FROM el)""".stripMargin

  val oracles: Map[String, String] = Map(
    // trailing-8 EWMA: lag columns + the same left-associative 8-term
    // weighted sum; α = 1/2 weights are exact dyadic doubles, so the
    // raw ewma double is bit-identical cross-engine
    "q_ewma" -> {
      val terms = (0 until 8).map(i => math.pow(0.5, i))
      val num = terms.zipWithIndex
        .map { case (w, i) => s"COALESCE(lag(value, $i) OVER w * $w, 0.0)" }
        .mkString(" + ")
      val den = terms.zipWithIndex
        .map { case (w, i) =>
          s"CASE WHEN lag(value, $i) OVER w IS NOT NULL THEN $w ELSE 0.0 END" }
        .mkString(" + ")
      s"""SELECT user_id, event_id, ts, value, ($num) / ($den) AS ewma
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin
    },

    // integer epoch-micros RANGE frame on both engines (Spark
    // unix_micros / DuckDB epoch_us) — frame membership is exact; RANGE
    // includes all ts peers so no tiebreak column is needed
    "q_window_range" ->
      """SELECT event_id, user_id, ts, value,
        |  count(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // the hopping-window grid re-derived with integer micros floor-div:
    // each event lands in exactly 3 epoch-aligned 30m/10m windows
    "q_hopping" ->
      """WITH h AS (
        |  SELECT make_timestamp((epoch_us(ts) // 600000000 - o) * 600000000) AS w_start,
        |    make_timestamp((epoch_us(ts) // 600000000 - o + 3) * 600000000) AS w_end,
        |    event_type, value
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS o) offs)
        |SELECT w_start, w_end, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM h GROUP BY 1, 2, 3""".stripMargin,

    "q_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
        |    THEN 1 ELSE 0 END AS chg FROM o),
        |r AS (
        |  SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |  FROM f),
        |iv AS (
        |  SELECT user_id, run_id, min(event_type) AS status,
        |    min(ts) AS valid_from, count(*) AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, run_id, status, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to,
        |  n_events,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL AS is_current
        |FROM iv""".stripMargin,

    // all-integer epoch-micros arithmetic; the island boundary is
    // start > running max(end) over STRICTLY preceding rows — the form
    // a lag-gap sessionizer gets wrong when a long interval swallows
    // later short ones
    "q_interval_merge" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS st,
        |    epoch_us(ts) + 900000000 AS en
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN st > coalesce(max(en) OVER (
        |      PARTITION BY user_id ORDER BY st, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775808) THEN 1 ELSE 0 END AS new_island
        |  FROM ev),
        |isl AS (
        |  SELECT *, CAST(sum(new_island) OVER (
        |    PARTITION BY user_id ORDER BY st, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS island_id
        |  FROM f)
        |SELECT user_id, island_id, min(st) AS island_start_us,
        |  max(en) AS island_end_us, count(*) AS n_events,
        |  CAST(max(en) - min(st) AS DOUBLE) / 1000000 AS duration_sec
        |FROM isl GROUP BY 1, 2""".stripMargin,

    "q_quantile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.25), 4) AS p25,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.75), 4) AS p75
        |FROM events GROUP BY event_type""".stripMargin,

    // the estimates are sketch-state-specific; the CONTRACT is not —
    // oracle pins exact n + both rank-bound verdicts at literal TRUE
    "q_quantile_sketch_merge" ->
      """SELECT event_type, CAST(qtile AS DOUBLE) AS qtile, count(*) AS n,
        |  TRUE AS ok_natural, TRUE AS ok_merged
        |FROM events, (VALUES (0.5), (0.9), (0.99)) q(qtile)
        |GROUP BY event_type, qtile""".stripMargin,

    "q_quantile_trim" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_trimmed
        |FROM (
        |  SELECT event_type, event_id, value,
        |    ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
        |  FROM events) t
        |WHERE q IN (2, 3) GROUP BY 1""".stripMargin,

    // sketch twin re-gated at its verdict point (r14): the GK boundary
    // estimates appear only as rank-window booleans pinned to TRUE
    "q_quantile_trim_sketch" ->
      """SELECT event_type, count(*) AS n_total,
        |  TRUE AS ok_lo, TRUE AS ok_hi, TRUE AS kept_frac_ok
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin,

    "q_lead_window" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_max
        |  FROM events GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT user_id, day, day_max,
        |    lead(day_max, 1) OVER (PARTITION BY user_id ORDER BY day) AS next_day_max
        |  FROM daily) t
        |WHERE next_day_max IS NOT NULL""".stripMargin,

    "q_lead_global" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, max(value) AS day_max
        |  FROM events GROUP BY 1)
        |SELECT * FROM (
        |  SELECT day, day_max, lead(day_max, 1) OVER (ORDER BY day) AS next_day_max
        |  FROM daily) t
        |WHERE next_day_max IS NOT NULL""".stripMargin,

    "q_resample_30m" ->
      """SELECT user_id, time_bucket(INTERVAL '30 minutes', ts) AS bucket,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |  count(*) AS n, max(value) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // the window-composition as-of join must match DuckDB's NATIVE ASOF
    // JOIN — the oracle is the canonical operator itself, not a SQL
    // re-derivation of the same composition
    "q_asof_join" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS ts,
        |    max(value) AS setting
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.value, d.setting AS asof_max
        |FROM events e ASOF JOIN dim d
        |  ON e.user_id = d.user_id AND e.ts >= d.ts""".stripMargin,

    // ASOF LEFT keeps the tail rows with no following dim row (NULL
    // next_max) — exactly the window composition's unmatched contract
    "q_asof_forward" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS ts,
        |    max(value) AS setting
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts, e.value, d.setting AS next_max
        |FROM events e ASOF LEFT JOIN dim d
        |  ON e.user_id = d.user_id AND e.ts <= d.ts""".stripMargin,

    // DuckDB's DISTINCT window aggregate over the same integer-micros
    // RANGE frame as q_window_range
    "q_window_distinct" ->
      """SELECT event_id, user_id, ts, event_type,
        |  CAST(count(DISTINCT event_type) OVER w AS INT) AS n_types_1h,
        |  count(*) OVER w AS n_events_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // whole-second gap math on both sides: Spark unix_timestamp truncates
    // to seconds; DuckDB floor(epoch(ts)) reproduces it
    "q_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_sess FROM o),
        |s AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q_rolling_stats" ->
      """SELECT event_id, user_id, ts, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS roll_avg,
        |  min(value) OVER w AS roll_min,
        |  max(value) OVER w AS roll_max
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,

    // moments from exact DECIMAL sums (sum v, sum v*v over the trailing
    // frame) -> the mean/var/z double chain is identical in both engines,
    // so the |z| >= 3 cut is stable (same class as q_rolling_stats)
    "q_anomaly_zscore" ->
      """WITH m AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      OVER w AS DOUBLE) AS s2,
        |    count(*) OVER w AS n
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |v AS (
        |  SELECT *, s1 / n AS mean, (s2 - s1 * s1 / n) / (n - 1) AS variance
        |  FROM m WHERE n >= 10)
        |SELECT event_id, user_id, ts, value,
        |  round(mean, 6) AS base_mean,
        |  round((value - mean) / sqrt(variance), 6) AS z
        |FROM v
        |WHERE variance > 0 AND abs((value - mean) / sqrt(variance)) >= 3""".stripMargin,

    // integer-cents cumsums (BIGINT casts dodge the HUGEINT hazard);
    // the score is ONE long→double cast + ONE divide of exact integers,
    // so the per-user argmax ordering is bit-identical cross-engine;
    // mean divisions mirror the Spark expression order exactly
    "q_changepoint" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |w AS (
        |  SELECT user_id, ts, cents,
        |    CAST(row_number() OVER o AS BIGINT) AS k,
        |    CAST(sum(cents) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sk,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS stot
        |  FROM ev
        |  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *,
        |    CAST(abs(sk * (n - k) - (stot - sk) * k) AS DOUBLE)
        |      / CAST(k * (n - k) AS DOUBLE) AS score
        |  FROM w WHERE n >= 8 AND k < n)
        |SELECT user_id, k AS split_k, n, ts AS split_ts,
        |  round(CAST(sk AS DOUBLE) / 100.0 / k, 6) AS mean_left,
        |  round(CAST(stot - sk AS DOUBLE) / 100.0 / (n - k), 6) AS mean_right,
        |  round(score / 100.0, 6) AS shift
        |FROM (SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY score DESC, k) AS rn FROM s)
        |WHERE rn = 1""".stripMargin,

    "q_range_join" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS s_ts, max(ts) AS e_ts
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT iv.user_id, iv.day, iv.s_ts, iv.e_ts, count(c.ts) AS n_clicks
        |FROM iv LEFT JOIN c
        |  ON c.user_id = iv.user_id AND c.ts BETWEEN iv.s_ts AND iv.e_ts
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q_ffill" ->
      """WITH f AS (SELECT * FROM events WHERE user_id < 50),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |  FROM f GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx
        |  FROM f GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
        |  FROM bounds)
        |SELECT s.user_id, s.bucket, h.avg_value,
        |  last_value(h.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id ORDER BY s.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM spine s LEFT JOIN hourly h
        |  ON s.user_id = h.user_id AND s.bucket = h.bucket""".stripMargin,

    "q_interpolate" ->
      """WITH f AS (SELECT * FROM events WHERE user_id < 50),
        |hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |  FROM f GROUP BY 1, 2),
        |bounds AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS mn, date_trunc('hour', max(ts)) AS mx
        |  FROM f GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
        |  FROM bounds),
        |j AS (
        |  SELECT s.user_id, s.bucket, h.avg_value FROM spine s
        |  LEFT JOIN hourly h ON s.user_id = h.user_id AND s.bucket = h.bucket),
        |x AS (
        |  SELECT user_id, bucket, avg_value,
        |    last_value(avg_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |    last_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
        |    first_value(avg_value IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bucket
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |    first_value(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY bucket
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
        |  FROM j)
        |SELECT user_id, bucket, avg_value,
        |  CASE WHEN avg_value IS NOT NULL THEN avg_value
        |       WHEN prev_v IS NULL THEN next_v
        |       WHEN next_v IS NULL THEN prev_v
        |       ELSE prev_v + (next_v - prev_v) *
        |         (CAST(CAST(floor(epoch(bucket)) AS BIGINT) - CAST(floor(epoch(prev_b)) AS BIGINT) AS DOUBLE) /
        |          CAST(CAST(floor(epoch(next_b)) AS BIGINT) - CAST(floor(epoch(prev_b)) AS BIGINT) AS DOUBLE))
        |  END AS interp
        |FROM x""".stripMargin,

    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS day_avg
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT day, day_avg,
        |    CAST(SUM(CAST(day_avg AS DECIMAL(24,8))) OVER w AS DOUBLE) / count(*) OVER w AS trend
        |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |v AS (
        |  SELECT day, day_avg, trend, day_avg - trend AS dev,
        |    CAST(dayofweek(day) + 1 AS INTEGER) AS dow
        |  FROM t),
        |sea AS (
        |  SELECT day, day_avg, trend, dev, dow,
        |    CAST(SUM(CAST(dev AS DECIMAL(24,8))) OVER pw AS DOUBLE) / count(*) OVER pw AS seasonal
        |  FROM v WINDOW pw AS (PARTITION BY dow))
        |SELECT day, day_avg, trend, dow, seasonal, dev - seasonal AS resid FROM sea""".stripMargin,

    // the Holt/AR kernels' input path: per-series 30-min DECIMAL means,
    // dense spine, direct-lerp gap fill — hash-matches the in-JVM
    // interpolateBuckets kernel bit for bit (VERDICT r2 item 7)
    "q_holt_prep" ->
      s"""WITH $HoltDenseCtes
        |SELECT series, b * 1800 AS bucket, y FROM dense""".stripMargin,

    // the full Holt kernel replayed in SQL: the q_holt_prep dense-series
    // CTEs (DECIMAL means + direct-lerp fill, proven hash-exact) feed a
    // type-7 quantile trim and one index-ordered list_reduce per series
    // folding the exact (level, trend) state as a DOUBLE[] accumulator —
    // the first element seeds [y0, y1 − y0], every later one is [y].
    // Every float op is the identical IEEE expression the Scala kernel
    // runs (alpha/beta complements written as (1 - a) to match the
    // runtime subtraction), and the trend update re-evaluates the
    // new-level expression rather than referencing it (same bits).
    // perfbench/oracle.py runs every CTE before the first `rec AS (`,
    // so `kept` must stay whole and come before the fold CTE `rec`
    "q_holt_forecast" -> {
      val lNew = "(0.5 * x[1] + (1 - 0.5) * (acc[1] + acc[2]))"
      s"""WITH $HoltDenseCtes,
        |srt AS (
        |  SELECT series, y, n,
        |    row_number() OVER (PARTITION BY series ORDER BY y) - 1 AS r
        |  FROM idx),
        |qv AS (
        |  SELECT series, max(n) AS n,
        |    max(CASE WHEN r = CAST(floor(0.2 * (n - 1)) AS BIGINT) THEN y END) AS lo20,
        |    max(CASE WHEN r = CAST(floor(0.2 * (n - 1)) AS BIGINT) + 1 THEN y END) AS hi20,
        |    max(CASE WHEN r = CAST(floor(0.8 * (n - 1)) AS BIGINT) THEN y END) AS lo80,
        |    max(CASE WHEN r = CAST(floor(0.8 * (n - 1)) AS BIGINT) + 1 THEN y END) AS hi80
        |  FROM srt GROUP BY series),
        |qq AS (
        |  SELECT series, n,
        |    CASE WHEN CAST(floor(0.2 * (n - 1)) AS BIGINT) + 1 < n
        |      THEN lo20 + (hi20 - lo20) * ((0.2 * (n - 1)) - floor(0.2 * (n - 1)))
        |      ELSE lo20 END AS qlo,
        |    CASE WHEN CAST(floor(0.8 * (n - 1)) AS BIGINT) + 1 < n
        |      THEN lo80 + (hi80 - lo80) * ((0.8 * (n - 1)) - floor(0.8 * (n - 1)))
        |      ELSE lo80 END AS qhi
        |  FROM qv),
        |kept AS (
        |  SELECT i.series, i.y,
        |    row_number() OVER (PARTITION BY i.series ORDER BY i.i) - 1 AS jj,
        |    count(*) OVER (PARTITION BY i.series) AS mm
        |  FROM idx i JOIN qq ON i.series = qq.series
        |  WHERE qq.n < 5 OR (i.y >= qq.qlo AND i.y <= qq.qhi)),
        |rec AS (
        |  SELECT series, len(ys) AS mm,
        |    list_reduce(
        |      [[ys[1], COALESCE(ys[2] - ys[1], CAST(0 AS DOUBLE))]] ||
        |        list_transform(ys[2:], v -> [v]),
        |      (acc, x) -> [$lNew,
        |        0.3 * ($lNew - acc[1]) + (1 - 0.3) * acc[2]]) AS lt
        |  FROM (SELECT series, list(y ORDER BY jj) AS ys FROM kept GROUP BY series))
        |SELECT series, CAST(hs.h AS INT) AS step,
        |  lt[1] + hs.h * lt[2] AS forecast,
        |  lt[1] AS level, lt[2] AS trend, CAST(mm AS INT) AS n_obs
        |FROM rec, (SELECT unnest(generate_series(1, 6)) AS h) hs""".stripMargin
    },

    // Hannan-Rissanen at fixed ARMA(2,1), d = 1, replayed term by term
    // (r12 verdict #7's "fixed small order, same trick"): dense series →
    // first difference → autocovariances to lag 10 (index-ordered
    // list_reduce folds) → Levinson-Durbin unrolled to TEN stages with
    // the phi vector carried as a LIST column (the q_ar_forecast device
    // generalized — each stage's reflection re-evaluates the acc
    // expression, same bits) → long-AR residual proxies as pure lag
    // windows (e(t) depends only on x — no recursion) → the 3×3 normal
    // equations accumulated t-ascending → solveRidge's partial-pivot
    // Gaussian elimination unrolled at k = 3 (each pivot choice one CASE
    // tree, f = 0 / d = 0 skip guards mirrored). Series are filtered to
    // the m = 10 plateau ((n-1)//4 ≥ 10) in BOTH engines so the unroll
    // depth is a constant. Raw doubles, no rounding key — identical
    // IEEE sequence end to end.
    "q_arma_hr" -> {
      val M = 10
      def fold(gen: String, ex: String) =
        s"list_reduce(list_transform($gen, $ex), (u, v) -> u + v)"
      val lvStages = (0 until M).map { k =>
        val acc = (0 until k).foldLeft(s"rl[${k + 2}]") { (a, j) =>
          s"($a - pl[${j + 1}] * rl[${k - j + 1}])" }
        val refl = s"CASE WHEN err$k = 0 THEN CAST(0.0 AS DOUBLE) ELSE $acc / err$k END"
        val newpl =
          if (k == 0) s"[$refl]"
          else s"list_transform(generate_series(1, $k), j -> pl[j] - ($refl) * pl[$k + 1 - j]) || [$refl]"
        val excl = if (k > 0) s"pl, err$k" else s"err$k"
        s"""lv$k AS (SELECT * EXCLUDE ($excl),
           |    $newpl AS pl,
           |    err$k * (1 - ($refl) * ($refl)) AS err${k + 1}
           |  FROM ${if (k == 0) "rr2" else s"lv${k - 1}"})""".stripMargin
      }.mkString(",\n")
      val rTerms = (0 to M).map { k =>
        s"${fold(s"generate_series(1, n - $k)", s"t -> x[t] * x[t + $k]")} / n AS r$k"
      }.mkString(",\n    ")
      val pred = (0 until M).foldLeft("CAST(0.0 AS DOUBLE)") { (a, j) =>
        s"($a + pl[${j + 1}] * x[t - ${j + 1}])" }
      val rows = "generate_series(12, n)" // 1-based t = m + q + 1 .. n
      val cols = Seq("x[t - 1]", "x[t - 2]", "el[t - 1]")
      val neTerms = (for {
        r <- 0 until 3; c <- r until 3
      } yield s"${fold(rows, s"t -> ${cols(r)} * ${cols(c)}")} AS a${r + 1}${c + 1}") ++
        (0 until 3).map(r => s"${fold(rows, s"t -> ${cols(r)} * x[t]")} AS b${r + 1}")
      s"""WITH $HoltDenseCtes,
        |ser AS (SELECT series, list(y ORDER BY i) AS a, max(n) AS n0 FROM idx GROUP BY series),
        |dif AS (
        |  SELECT series, CAST(n0 - 1 AS BIGINT) AS n,
        |    list_transform(generate_series(2, CAST(n0 AS INT)), i -> a[i] - a[i - 1]) AS cur
        |  FROM ser
        |  WHERE (n0 - 1 - 1) // 4 >= 10 AND (n0 - 1) - 10 - 1 > 3),
        |mnn AS (SELECT *, list_reduce(cur, (u, v) -> u + v) / n AS mu FROM dif),
        |xs AS (SELECT *, list_transform(cur, v -> v - mu) AS x FROM mnn),
        |rr AS (SELECT *,
        |    $rTerms
        |  FROM xs),
        |rr2 AS (SELECT *, [r0, r1, r2, r3, r4, r5, r6, r7, r8, r9, r10] AS rl,
        |    r0 AS err0 FROM rr),
        |$lvStages,
        |res AS (SELECT *,
        |    list_transform(generate_series(1, CAST(n AS INT)),
        |      t -> CASE WHEN t <= 10 THEN CAST(0.0 AS DOUBLE)
        |                ELSE x[t] - $pred END) AS el
        |  FROM lv${M - 1}),
        |ne AS (SELECT *,
        |    ${neTerms.mkString(",\n    ")}
        |  FROM res),
        |ne0 AS (SELECT *,
        |    CASE WHEN (a11 + a22) + a33 = 0 THEN TRUE ELSE FALSE END AS zero_tr
        |  FROM ne),
        |sv0 AS (SELECT *, 1e-10 * ((a11 + a22) + a33) / 3 AS lam FROM ne0),
        |sv1 AS (SELECT *,
        |    a11 + lam AS m11, a12 AS m12, a13 AS m13,
        |    a12 AS m21, a22 + lam AS m22, a23 AS m23,
        |    a13 AS m31, a23 AS m32, a33 + lam AS m33,
        |    b1 AS x1, b2 AS x2, b3 AS x3
        |  FROM sv0),
        |sv2 AS (SELECT *,
        |    CASE WHEN abs(m31) > abs(CASE WHEN abs(m21) > abs(m11) THEN m21 ELSE m11 END) THEN 3
        |         WHEN abs(m21) > abs(m11) THEN 2 ELSE 1 END AS p0
        |  FROM sv1),
        |sv3 AS (SELECT * EXCLUDE (m11, m12, m13, m21, m22, m23, m31, m32, m33, x1, x2, x3),
        |    CASE p0 WHEN 2 THEN m21 WHEN 3 THEN m31 ELSE m11 END AS m11,
        |    CASE p0 WHEN 2 THEN m22 WHEN 3 THEN m32 ELSE m12 END AS m12,
        |    CASE p0 WHEN 2 THEN m23 WHEN 3 THEN m33 ELSE m13 END AS m13,
        |    CASE p0 WHEN 2 THEN m11 ELSE m21 END AS m21,
        |    CASE p0 WHEN 2 THEN m12 ELSE m22 END AS m22,
        |    CASE p0 WHEN 2 THEN m13 ELSE m23 END AS m23,
        |    CASE p0 WHEN 3 THEN m11 ELSE m31 END AS m31,
        |    CASE p0 WHEN 3 THEN m12 ELSE m32 END AS m32,
        |    CASE p0 WHEN 3 THEN m13 ELSE m33 END AS m33,
        |    CASE p0 WHEN 2 THEN x2 WHEN 3 THEN x3 ELSE x1 END AS x1,
        |    CASE p0 WHEN 2 THEN x1 ELSE x2 END AS x2,
        |    CASE p0 WHEN 3 THEN x1 ELSE x3 END AS x3
        |  FROM sv2),
        |sv4 AS (SELECT * EXCLUDE (m21, m22, m23, m31, m32, m33, x2, x3),
        |    CASE WHEN m11 = 0 OR m21 = 0 THEN m21 ELSE m21 - (m21 / m11) * m11 END AS m21,
        |    CASE WHEN m11 = 0 OR m21 = 0 THEN m22 ELSE m22 - (m21 / m11) * m12 END AS m22,
        |    CASE WHEN m11 = 0 OR m21 = 0 THEN m23 ELSE m23 - (m21 / m11) * m13 END AS m23,
        |    CASE WHEN m11 = 0 OR m31 = 0 THEN m31 ELSE m31 - (m31 / m11) * m11 END AS m31,
        |    CASE WHEN m11 = 0 OR m31 = 0 THEN m32 ELSE m32 - (m31 / m11) * m12 END AS m32,
        |    CASE WHEN m11 = 0 OR m31 = 0 THEN m33 ELSE m33 - (m31 / m11) * m13 END AS m33,
        |    CASE WHEN m11 = 0 OR m21 = 0 THEN x2 ELSE x2 - (m21 / m11) * x1 END AS x2,
        |    CASE WHEN m11 = 0 OR m31 = 0 THEN x3 ELSE x3 - (m31 / m11) * x1 END AS x3
        |  FROM sv3),
        |sv5 AS (SELECT *,
        |    CASE WHEN abs(m32) > abs(m22) THEN 3 ELSE 2 END AS p1
        |  FROM sv4),
        |sv6 AS (SELECT * EXCLUDE (m22, m23, m32, m33, x2, x3),
        |    CASE p1 WHEN 3 THEN m32 ELSE m22 END AS m22,
        |    CASE p1 WHEN 3 THEN m33 ELSE m23 END AS m23,
        |    CASE p1 WHEN 3 THEN m22 ELSE m32 END AS m32,
        |    CASE p1 WHEN 3 THEN m23 ELSE m33 END AS m33,
        |    CASE p1 WHEN 3 THEN x3 ELSE x2 END AS x2,
        |    CASE p1 WHEN 3 THEN x2 ELSE x3 END AS x3
        |  FROM sv5),
        |sv7 AS (SELECT * EXCLUDE (m32, m33, x3),
        |    CASE WHEN m22 = 0 OR m32 = 0 THEN m32 ELSE m32 - (m32 / m22) * m22 END AS m32,
        |    CASE WHEN m22 = 0 OR m32 = 0 THEN m33 ELSE m33 - (m32 / m22) * m23 END AS m33,
        |    CASE WHEN m22 = 0 OR m32 = 0 THEN x3 ELSE x3 - (m32 / m22) * x2 END AS x3
        |  FROM sv6),
        |sv8 AS (SELECT *,
        |    CASE WHEN m33 = 0 THEN CAST(0.0 AS DOUBLE) ELSE x3 / m33 END AS s3
        |  FROM sv7),
        |sv9 AS (SELECT *,
        |    CASE WHEN m22 = 0 THEN CAST(0.0 AS DOUBLE) ELSE (x2 - m23 * s3) / m22 END AS s2
        |  FROM sv8),
        |sv10 AS (SELECT *,
        |    CASE WHEN m11 = 0 THEN CAST(0.0 AS DOUBLE)
        |      ELSE ((x1 - m12 * s2) - m13 * s3) / m11 END AS s1
        |  FROM sv9)
        |SELECT series, n, mu,
        |  CASE WHEN zero_tr THEN CAST(0.0 AS DOUBLE) ELSE s1 END AS phi1,
        |  CASE WHEN zero_tr THEN CAST(0.0 AS DOUBLE) ELSE s2 END AS phi2,
        |  CASE WHEN zero_tr THEN CAST(0.0 AS DOUBLE) ELSE s3 END AS theta1
        |FROM sv10""".stripMargin
    },

    // AR(4) forecasting replayed in SQL, fully UNROLLED (no recursion):
    // autocovariances are list_reduce folds over index-ordered products
    // (the kernel's exact accumulation order), the Levinson-Durbin
    // recursion at p = 4 is four explicit stages with the same guarded
    // divisions (err = 0 → refl = 0, which also covers the r0 = 0 early
    // return), the 6-step forecast recursion is six chained CTE columns
    // re-feeding centered predictions into the lag window, and d = 1
    // integrates back through the original last value. The leading
    // CAST(0.0 AS DOUBLE) + … preserves the kernel's 0.0-seeded
    // accumulator (an all-zero phi times a negative lag would otherwise
    // produce -0.0 where the kernel has +0.0)
    "q_ar_forecast" -> {
      def g(e: String) = s"CASE WHEN $e = 0 THEN CAST(0.0 AS DOUBLE) ELSE " // guarded div opener
      val rK = (0 to 4).map { k =>
        s"list_reduce(list_transform(generate_series(1, n - $k), t -> x[t] * x[t + $k]), (u, v) -> u + v) / n AS r$k"
      }.mkString(",\n    ")
      // six forecast steps: window (w1..w4), w4 newest; each step is one
      // CTE layer adding predK (centered) and fK (de-centered)
      var w = Vector("w1", "w2", "w3", "w4")
      val fcSteps = (1 to 6).map { h =>
        val pred = s"(((CAST(0.0 AS DOUBLE) + phi0 * ${w(3)}) + phi1 * ${w(2)}) + phi2 * ${w(1)}) + phi3 * ${w(0)}"
        val cte = s"fc$h AS (SELECT *, $pred AS pred$h, ($pred) + mu AS f$h FROM ${if (h == 1) "lv3" else s"fc${h - 1}"})"
        w = w.tail :+ s"pred$h"
        cte
      }.mkString(",\n")
      val ints = (1 to 6).map { h =>
        s"i$h AS (SELECT *, ${if (h == 1) "lastv" else s"v${h - 1}"} + f$h AS v$h FROM ${if (h == 1) "fc6" else s"i${h - 1}"})"
      }.mkString(",\n")
      s"""WITH $HoltDenseCtes,
        |ser AS (SELECT series, list(y ORDER BY i) AS a, max(n) AS n0 FROM idx GROUP BY series),
        |dd AS (SELECT CAST(0 AS INT) AS d UNION ALL SELECT CAST(1 AS INT)),
        |c0 AS (
        |  SELECT series, d, n0, a,
        |    CASE WHEN d = 0 THEN a
        |         ELSE list_transform(generate_series(2, CAST(n0 AS INT)),
        |                i -> a[i] - a[i - 1]) END AS cur
        |  FROM ser CROSS JOIN dd
        |  WHERE n0 > 5 + d),
        |m0 AS (SELECT *, len(cur) AS n,
        |    list_reduce(cur, (u, v) -> u + v) / len(cur) AS mu FROM c0),
        |xs AS (SELECT *, list_transform(cur, v -> v - mu) AS x FROM m0),
        |rr AS (SELECT *,
        |    $rK
        |  FROM xs),
        |lv0 AS (SELECT *,
        |    ${g("r0")}r1 / r0 END AS refl0,
        |    r0 * (1 - (${g("r0")}r1 / r0 END) * (${g("r0")}r1 / r0 END)) AS e1
        |  FROM rr),
        |lv1 AS (SELECT *,
        |    ${g("e1")}(r2 - refl0 * r1) / e1 END AS refl1 FROM lv0),
        |lv1b AS (SELECT *,
        |    refl0 - refl1 * refl0 AS a0,
        |    e1 * (1 - refl1 * refl1) AS e2 FROM lv1),
        |lv2 AS (SELECT *,
        |    ${g("e2")}((r3 - a0 * r2) - refl1 * r1) / e2 END AS refl2 FROM lv1b),
        |lv2b AS (SELECT *,
        |    a0 - refl2 * refl1 AS b0,
        |    refl1 - refl2 * a0 AS b1,
        |    e2 * (1 - refl2 * refl2) AS e3 FROM lv2),
        |lv2c AS (SELECT *,
        |    ${g("e3")}(((r4 - b0 * r3) - b1 * r2) - refl2 * r1) / e3 END AS refl3
        |  FROM lv2b),
        |lv3 AS (SELECT *,
        |    b0 - refl3 * refl2 AS phi0,
        |    b1 - refl3 * b1 AS phi1,
        |    refl2 - refl3 * b0 AS phi2,
        |    refl3 AS phi3,
        |    x[CAST(n AS INT) - 3] AS w1, x[CAST(n AS INT) - 2] AS w2,
        |    x[CAST(n AS INT) - 1] AS w3, x[CAST(n AS INT)] AS w4,
        |    a[CAST(n0 AS INT)] AS lastv
        |  FROM lv2c),
        |$fcSteps,
        |$ints,
        |fin AS (SELECT series, d, n0,
        |    CASE WHEN d = 0 THEN [f1, f2, f3, f4, f5, f6]
        |         ELSE [v1, v2, v3, v4, v5, v6] END AS fl
        |  FROM i6)
        |SELECT series, CAST(hs.h AS INT) AS step, fl[hs.h] AS forecast,
        |  CAST(4 AS INT) AS p, d, CAST(n0 AS INT) AS n_obs
        |FROM fin, (SELECT unnest(generate_series(1, 6)) AS h) hs""".stripMargin
    },

    // banded DTW replayed in SQL: the Sakoe-Chiba DP advances ONE CELL
    // per recursion step, carrying the previous and in-progress dp rows
    // as LIST(DOUBLE) (1-based: dp index j sits at pos j+1). The
    // in-row left neighbor cur(j-1) was written by an earlier step, so
    // reading r.cur[r.j] is already the updated value — exactly the
    // kernel's two-rolling-rows evaluation order. min() is exact, the
    // cell cost (a_i - b_j)^2 is one sub+mul, and the day profiles are
    // exact cent sums, so sqrt(dp) hash-matches with no rounding key.
    // A sentinel step (i = 49) lands the finished row where the final
    // SELECT can read dp(48,48)
    "q_dtw_shift" -> {
      val inRow = "r.j < least(48, r.i + 4)" // more cells in this dp row?
      val cell = "(p.a[r.i] - p.b[r.j]) * (p.a[r.i] - p.b[r.j])" +
        " + least(r.prev[r.j + 1], least(r.cur[r.j], r.prev[r.j]))"
      val newcur = s"r.cur[1:r.j] || [$cell] || r.cur[r.j + 2:49]"
      val infRow = "list_transform(generate_series(1, 49), x -> 'infinity'::DOUBLE)"
      s"""WITH RECURSIVE ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000 // 1800000000 AS slot,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
        |  FROM events),
        |slots AS (SELECT unnest(generate_series(0, 47)) AS slot),
        |base AS (SELECT event_type, day FROM ev GROUP BY 1, 2),
        |persl AS (
        |  SELECT event_type, day, slot, CAST(SUM(x) AS DOUBLE) AS sd, count(*) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |daym AS (
        |  SELECT event_type, day, CAST(SUM(x) AS DOUBLE) / count(*) AS dm
        |  FROM ev GROUP BY 1, 2),
        |grid AS (
        |  SELECT b.event_type, b.day, s.slot, COALESCE(p.sd / p.c, d.dm) AS v
        |  FROM base b CROSS JOIN slots s
        |  LEFT JOIN persl p ON p.event_type = b.event_type
        |    AND p.day = b.day AND p.slot = s.slot
        |  JOIN daym d ON d.event_type = b.event_type AND d.day = b.day),
        |prof AS (
        |  SELECT event_type, day, list(v ORDER BY slot) AS a
        |  FROM grid GROUP BY 1, 2),
        |pairs AS (
        |  SELECT event_type, day, a,
        |    lag(a) OVER (PARTITION BY event_type ORDER BY day) AS b
        |  FROM prof QUALIFY b IS NOT NULL),
        |rec AS (
        |  SELECT event_type, day, CAST(1 AS BIGINT) AS i, CAST(1 AS BIGINT) AS j,
        |    [CAST(0.0 AS DOUBLE)] ||
        |      list_transform(generate_series(1, 48), x -> 'infinity'::DOUBLE) AS prev,
        |    $infRow AS cur
        |  FROM pairs
        |  UNION ALL
        |  SELECT r.event_type, r.day,
        |    CASE WHEN $inRow THEN r.i ELSE r.i + 1 END,
        |    CASE WHEN $inRow THEN r.j + 1
        |         WHEN r.i < 48 THEN greatest(1, r.i + 1 - 4)
        |         ELSE CAST(0 AS BIGINT) END,
        |    CASE WHEN $inRow THEN r.prev ELSE $newcur END,
        |    CASE WHEN $inRow THEN $newcur ELSE $infRow END
        |  FROM rec r
        |  JOIN pairs p ON p.event_type = r.event_type AND p.day = r.day
        |  WHERE r.i <= 48)
        |SELECT event_type, day, sqrt(prev[49]) AS dtw_dist
        |FROM rec WHERE i = 49""".stripMargin
    },

    // Holt-Winters replayed in SQL: the shared dense CTEs feed one
    // index-ordered list_reduce per series folding the DOUBLE[] state
    // [level, trend, s_0..s_47] over the elements [y_t, t] (t 0-based,
    // from 48); the updated seasonal slot t % 48 is spliced in with list
    // slices (prefix || [new] || suffix). Init means are list_reduce over
    // index-ordered lists (the same left-to-right fold as the kernel —
    // a SUM() aggregate would not pin the addition order); every float
    // op mirrors hwFit's expression sequence, with the new-level
    // expression re-evaluated where SQL cannot reference its alias
    "q_hw_seasonal" -> {
      val sidx = "CAST(x[2] % 48 AS INT)" // 0-based seasonal slot of step t
      val sOld = s"acc[$sidx + 3]" // s_j sits at 1-based position j + 3
      val lNew = s"(0.5 * (x[1] - $sOld) + (1 - 0.5) * (acc[1] + acc[2]))"
      val slot = "CAST((f.n % 48 + hs.h - 1) % 48 AS INT) + 3"
      s"""WITH $HoltDenseCtes,
        |init AS (
        |  SELECT series, max(n) AS n, list(y ORDER BY i) AS ys,
        |    list_reduce(list(y ORDER BY i) FILTER (WHERE i < 48),
        |      (a, b) -> a + b) / 48 AS m1,
        |    list_reduce(list(y ORDER BY i) FILTER (WHERE i >= 48 AND i < 96),
        |      (a, b) -> a + b) / 48 AS m2
        |  FROM idx GROUP BY series HAVING max(n) >= 96),
        |fin AS (
        |  SELECT series, n,
        |    list_reduce(
        |      [[m1, (m2 - m1) / 48] || list_transform(ys[1:48], v -> v - m1)] ||
        |        list_transform(generate_series(48, n - 1), t -> [ys[t + 1], t]),
        |      (acc, x) -> [$lNew, 0.3 * ($lNew - acc[1]) + (1 - 0.3) * acc[2]] ||
        |        acc[3:$sidx + 2] ||
        |        [0.3 * (x[1] - $lNew) + (1 - 0.3) * $sOld] ||
        |        acc[$sidx + 4:50]) AS st
        |  FROM init)
        |SELECT f.series, CAST(hs.h AS INT) AS step,
        |  f.st[1] + hs.h * f.st[2] + f.st[$slot] AS forecast,
        |  f.st[1] AS level, f.st[2] AS trend,
        |  f.st[$slot] AS seasonal,
        |  CAST(f.n AS INT) AS n_obs
        |FROM fin f, (SELECT unnest(generate_series(1, 6)) AS h) hs""".stripMargin
    },

    // the walk-forward grid search replayed in SQL: the shared dense
    // CTEs feed one index-ordered list_reduce per (series, grid point)
    // folding [level, trend, sse] over the elements [y_i, i] (i 0-based)
    // and reading the row's a, bb and cut. The one-step-ahead error uses
    // the PRE-update state exactly like holtWalkForward, the complements
    // are written (1 - a)/(1 - b) to match the runtime subtraction, and
    // the argmin is (mse ASC, grid order ASC) = the kernel's strict-<
    // first-argmin. No quantile trim (the gridsearch kernel never trimmed)
    "q_holt_gridsearch" -> {
      val lNew = "(a * x[1] + (1 - a) * (acc[1] + acc[2]))"
      val err = "((acc[1] + acc[2]) - x[1])"
      s"""WITH $HoltDenseCtes,
        |grid AS (
        |  SELECT g, CAST(a AS DOUBLE) AS a, CAST(bb AS DOUBLE) AS bb
        |  FROM (VALUES
        |    (0, 0.2, 0.1), (1, 0.2, 0.3), (2, 0.2, 0.6),
        |    (3, 0.5, 0.1), (4, 0.5, 0.3), (5, 0.5, 0.6),
        |    (6, 0.8, 0.1), (7, 0.8, 0.3), (8, 0.8, 0.6)) AS t(g, a, bb)),
        |meta AS (
        |  SELECT series, max(n) AS n,
        |    CAST(floor(max(n) * 0.8) AS BIGINT) AS cut
        |  FROM idx GROUP BY series),
        |ok AS (SELECT * FROM meta WHERE cut >= 3 AND n - cut >= 1),
        |ser AS (SELECT series, list(y ORDER BY i) AS ys FROM idx GROUP BY series),
        |fit AS (
        |  SELECT ok.series, g.g, g.a, g.bb, ok.cut, ok.n,
        |    list_reduce(
        |      [[ys[1], ys[2] - ys[1], CAST(0 AS DOUBLE)]] ||
        |        list_transform(generate_series(1, ok.n - 1), i -> [ys[i + 1], i]),
        |      (acc, x) -> [$lNew,
        |        bb * ($lNew - acc[1]) + (1 - bb) * acc[2],
        |        acc[3] + CASE WHEN x[2] >= cut THEN $err * $err
        |          ELSE CAST(0 AS DOUBLE) END]) AS st
        |  FROM ok JOIN ser ON ser.series = ok.series CROSS JOIN grid g),
        |scored AS (
        |  SELECT series, g, a, bb, st[3] / (n - cut) AS mse, st[1] AS level, st[2] AS trend,
        |    row_number() OVER (PARTITION BY series ORDER BY st[3] / (n - cut) ASC, g ASC) AS rk
        |  FROM fit)
        |SELECT s.series, s.a AS alpha, s.bb AS beta, s.mse AS "valMse",
        |  CAST(hs.h AS INT) AS step, s.level + hs.h * s.trend AS forecast
        |FROM scored s, (SELECT unnest(generate_series(1, 3)) AS h) hs
        |WHERE s.rk = 1""".stripMargin
    },

    // ARIMA verdict-point oracles (r15): the JVM float-fold MSEs stay
    // spec-pinned (see the impossibility note at the q_arima_css gate);
    // what DuckDB replays exactly is the ELIGIBLE-SERIES universe — the
    // kernel's length rule floor(0.8·nb) ≥ pMax+dMax+qMax+2 = 16 over
    // the 30-min dense bucket span nb = max(b) − min(b) + 1 (the
    // q_holt_prep bucket expression, proven hash-exact) — the fixed grid
    // literals, and the contract booleans pinned TRUE
    "q_arima_gridsearch" ->
      s"""WITH $ArimaEligibleCtes
        |SELECT g.p, g.d, g.q, 3 AS horizon, ag.n_series, ag.sum_n_buckets,
        |  CAST(0 AS BIGINT) AS nan_winner,
        |  TRUE AS winner_in_grid_ok, TRUE AS winner_mse_finite_ok,
        |  TRUE AS winner_first_argmin_ok, TRUE AS forecast_len_ok
        |FROM (VALUES
        |  (4, 1, 0), (4, 1, 1), (4, 1, 2), (4, 2, 0), (4, 2, 1), (4, 2, 2),
        |  (6, 1, 0), (6, 1, 1), (6, 1, 2), (6, 2, 0), (6, 2, 1), (6, 2, 2),
        |  (8, 1, 0), (8, 1, 1), (8, 1, 2), (8, 2, 0), (8, 2, 1), (8, 2, 2),
        |  (10, 1, 0), (10, 1, 1), (10, 1, 2), (10, 2, 0), (10, 2, 1), (10, 2, 2)
        |  ) AS g(p, d, q), ag""".stripMargin,

    "q_forecast_cv" ->
      s"""WITH $ArimaEligibleCtes
        |SELECT n_series, sum_n_buckets, CAST(0 AS BIGINT) AS nan_winner,
        |  TRUE AS mses_finite_ok,
        |  TRUE AS winner_consistent_ok, TRUE AS ratio_exact_ok,
        |  TRUE AS holt_mse_matches_family_ok,
        |  TRUE AS arima_mse_matches_family_ok, TRUE AS family_series_set_ok
        |FROM ag""".stripMargin,

    "q_arima_css" ->
      s"""WITH $ArimaEligibleCtes
        |SELECT n_series, sum_n_buckets, CAST(0 AS BIGINT) AS nan_winner,
        |  TRUE AS orders_in_grid_ok,
        |  TRUE AS css_le_hr_ok
        |FROM ag""".stripMargin,

    // shared SaxCtes (OracleCtes) — the word table q_sax_join also
    // reads, so index build and index use can never drift
    "q_sax" ->
      s"""WITH $SaxCtes
         |SELECT event_type, day, n, sax_word FROM saxw""".stripMargin,

    // the index being USED: shape-mates per (type, day) via an
    // EQUALITY join on sax_word — the join a distance scan becomes
    // once the symbolic index exists
    "q_sax_join" ->
      s"""WITH $SaxCtes,
         |m AS (SELECT sax_word, count(*) AS n_days FROM saxw GROUP BY 1)
         |SELECT s.event_type, s.day, s.sax_word,
         |  CAST(m.n_days - 1 AS BIGINT) AS n_mates
         |FROM saxw s JOIN m USING (sax_word)""".stripMargin,
  )
}
