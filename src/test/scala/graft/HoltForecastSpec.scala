package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.timeseries.HoltForecast

/** ScalaCheck properties for the typed forecasting kernel (SURVEY.md §5.3):
  * the numeric guarantees the pandas/statsmodels path never had. Uses
  * scalacheck's runner directly (no scalatestplus bridge in the offline
  * cache). */
class HoltForecastSpec extends SparkTestBase {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  private val level  = Gen.choose(1.0, 100.0)
  private val alphas = Gen.choose(0.05, 0.95)

  test("constant series => constant forecast (Holt)") {
    check(Prop.forAll(level, alphas, Gen.choose(3, 50)) { (c, a, n) =>
      val (l, b) = HoltForecast.holtFit(Vector.fill(n)(c), a, 0.3)
      math.abs(l - c) < 1e-9 && math.abs(b) < 1e-9
    })
  }

  test("linear-trend series => linear continuation (Holt)") {
    check(Prop.forAll(level, Gen.choose(0.1, 5.0), Gen.choose(5, 40)) { (c0, slope, n) =>
      val ys = (0 until n).map(i => c0 + slope * i)
      val (l, b) = HoltForecast.holtFit(ys, 0.5, 0.3)
      // exact for a pure trend: level = last point, trend = slope
      math.abs(l - ys.last) < 1e-6 && math.abs(b - slope) < 1e-6
    })
  }

  test("holtWalkForward == per-prefix refit loop, bitwise (MSE and final state)") {
    val series = Gen.listOfN(40, Gen.choose(-50.0, 50.0))
    check(Prop.forAll(series, alphas, Gen.choose(0.05, 0.95)) { (ysL, a, b) =>
      val ys = ysL.toArray
      val cut = (ys.length * 0.8).toInt
      val (mse, level, trend) = HoltForecast.holtWalkForward(ys, cut, a, b)
      // the O(N·V) round-2 formulation this replaced
      val sqErrs = (cut until ys.length).map { i =>
        val (l, t) = HoltForecast.holtFit(ys.take(i).toVector, a, b)
        val e = (l + t) - ys(i)
        e * e
      }
      val (lRef, tRef) = HoltForecast.holtFit(ys.toVector, a, b)
      mse == sqErrs.sum / sqErrs.length && level == lRef && trend == tRef
    })
  }

  test("SES of constant series is the constant") {
    check(Prop.forAll(level, alphas) { (c, a) =>
      math.abs(HoltForecast.sesFit(Vector.fill(10)(c), a) - c) < 1e-9
    })
  }

  test("resample+interpolate output is bounded by input range and has no gaps") {
    // times on both sides of 1970: buckets are floored, never 60 minutes wide
    val points = Gen.nonEmptyListOf(Gen.zip(Gen.choose(-86400L, 86400L), Gen.choose(-50.0, 50.0)))
    check(Prop.forAll(points) { pts =>
      val out = HoltForecast.resampleInterpolate(pts, bucketSec = 1800L)
      val (lo, hi) = (pts.map(_._2).min, pts.map(_._2).max)
      val buckets = pts.map(p => Math.floorDiv(p._1, 1800L))
      val nBuckets = buckets.max - buckets.min + 1
      out.nonEmpty &&
        out.forall(v => v >= lo - 1e-9 && v <= hi + 1e-9) &&
        out.length == nBuckets &&
        HoltForecast.resampleArray(pts.iterator).length == nBuckets
    })
  }

  test("quantile trim never widens the range and keeps >= half the points") {
    check(Prop.forAll(Gen.listOfN(40, Gen.choose(-100.0, 100.0))) { ys =>
      val v = ys.toVector
      val kept = HoltForecast.quantileTrim(v, 0.2, 0.8)
      kept.nonEmpty && kept.min >= v.min && kept.max <= v.max &&
        kept.length >= (v.length * 0.5).toInt
    })
  }

  test("distributed forecast on sf0.001: one horizon per series, finite values") {
    val out = HoltForecast.forecast(spark, sf, horizon = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    val bySeries = rows.groupBy(_.getAs[Long]("series"))
    assert(bySeries.values.forall(_.length == 4))
    assert(rows.forall(r => java.lang.Double.isFinite(r.getAs[Double]("forecast"))))
  }
}
