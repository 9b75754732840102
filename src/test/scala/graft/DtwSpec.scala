package graft

import graft.operators.TimeWindows
import org.apache.spark.sql.functions.{col, lit, timestamp_micros}

/** Banded-DTW kernel + day-shift gate contracts. */
class DtwSpec extends SparkTestBase {
  import spark.implicits._

  private def dtwFull(a: Array[Double], b: Array[Double]): Double = {
    // unbanded O(n·m) reference, independent structure (full matrix)
    val n = a.length; val m = b.length
    val d = Array.fill(n + 1, m + 1)(Double.PositiveInfinity)
    d(0)(0) = 0.0
    for (i <- 1 to n; j <- 1 to m) {
      val c = (a(i - 1) - b(j - 1)) * (a(i - 1) - b(j - 1))
      d(i)(j) = c + math.min(d(i - 1)(j), math.min(d(i)(j - 1), d(i - 1)(j - 1)))
    }
    d(n)(m)
  }

  test("kernel: identity, symmetry, band==n equals the unbanded reference") {
    val rnd = new scala.util.Random(7)
    val a = Array.fill(48)(rnd.nextDouble() * 100)
    val b = Array.fill(48)(rnd.nextDouble() * 100)
    assert(TimeWindows.dtwSq(a, a, 4) == 0.0)
    assert(TimeWindows.dtwSq(a, b, 4) == TimeWindows.dtwSq(b, a, 4))
    assert(math.abs(TimeWindows.dtwSq(a, b, 48) - dtwFull(a, b)) <= 1e-9)
    // widening the band can only tighten (or keep) the distance
    assert(TimeWindows.dtwSq(a, b, 48) <= TimeWindows.dtwSq(a, b, 4))
  }

  test("kernel: a one-step time shift warps to ~0 where euclidean stays large") {
    val base = (0 until 48).map(i => math.sin(i / 4.0) * 10).toArray
    val shifted = (0 until 48).map(i => math.sin((i - 1) / 4.0) * 10).toArray
    val euclid = base.zip(shifted).map { case (x, y) => (x - y) * (x - y) }.sum
    val dtw = TimeWindows.dtwSq(base, shifted, 4)
    // the warp path absorbs the shift: only the boundary cells pay
    assert(dtw < euclid / 10.0, s"dtw $dtw vs euclid $euclid")
  }

  test("day-shift gate emits one row per consecutive-day pair with finite distances") {
    val got = TimeWindows.dtwDayShift(spark, sf)
      .as[(String, java.sql.Date, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, day, dist) =>
      assert(!dist.isNaN && !dist.isInfinite && dist >= 0.0, s"($t,$day) $dist") }
    // row count = series-days minus one first-day row per type
    val days = TimeWindows.sax(spark, sf)
      .select("event_type", "day").as[(String, java.sql.Date)].collect()
    val types = days.map(_._1).distinct.length
    assert(got.length == days.length - types)
    // determinism: identical recompute
    val again = TimeWindows.dtwDayShift(spark, sf)
      .as[(String, java.sql.Date, Double)].collect()
    assert(got.sortBy(r => (r._1, r._2.toString)).toSeq ==
      again.sortBy(r => (r._1, r._2.toString)).toSeq)
  }

  test("day-shift gate puts a reading before 1970 in its slot of the day") {
    // 1969-12-30 00:00 (10.00) and 1969-12-31 00:00 (10.00) and 23:00
    // (50.00): the last is slot 46 of its day, not slot -2
    val dayUs = 86400000000L
    val d = Scratch.dir("dtw_pre_epoch")
    Seq((1L, -2 * dayUs, 10.0), (2L, -dayUs, 10.0), (3L, -3600000000L, 50.0))
      .toDF("event_id", "us", "value")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("event_id").as("user_id"),
        lit("temp").as("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    // per-slot cent means; an empty slot takes the day mean
    val prev = Array.fill(48)(1000.0)
    val cur = Array.tabulate(48) {
      case 0 => 1000.0
      case 46 => 5000.0
      case _ => 3000.0
    }
    val got = TimeWindows.dtwDayShift(spark, d)
      .as[(String, java.sql.Date, Double)].collect().map(r => (r._1, r._2.toString, r._3)).toSeq
    assert(got == Seq(("temp", "1969-12-31", math.sqrt(TimeWindows.dtwSq(cur, prev, 4)))))
  }
}
