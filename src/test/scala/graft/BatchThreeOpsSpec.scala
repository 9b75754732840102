package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, TemporalJoins}

/** Round-9 session-3 operators: gaps-and-islands interval merge (vs a
  * hand-rolled sweep), ACF (vs a plain-double Pearson recompute),
  * blocked fuzzy join (planted-deletion recall + distance exactness),
  * chi-square readout internal consistency, DQ constraint suite. */
class BatchThreeOpsSpec extends SparkTestBase {

  test("interval merge matches a hand-rolled per-user sweep") {
    val hold = 900L * 1000000L
    val got = TemporalJoins.mergeIntervals(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island_start_us"),
        r.getAs[Long]("island_end_us"), r.getAs[Long]("n_events")))
      .toSet
    val events = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("st"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = events.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      // sweep: extend the open island while start <= current max end
      var islands = List.empty[(Long, Long, Long)] // (start, end, n)
      for ((_, st, _) <- sorted) {
        val en = st + hold
        islands match {
          case (s0, e0, n0) :: rest if st <= e0 =>
            islands = (s0, math.max(e0, en), n0 + 1) :: rest
          case _ => islands = (st, en, 1L) :: islands
        }
      }
      islands.map { case (s0, e0, n0) => (uid, s0, e0, n0) }
    }.toSet
    assert(got == want)
    // islands tile: per user they are disjoint and ordered
    got.groupBy(_._1).foreach { case (_, is) =>
      val sorted = is.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
    }
  }

  test("acf matches a plain-double Pearson recompute per (type, lag)") {
    val got = Analytics.acf(spark, sf)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("lag"))
        -> (r.getAs[Long]("n_pairs"), r.getAs[Double]("acf_r"))).toMap
    assert(got.keys.map(_._2).toSet == (1 to 5).toSet)
    val series = Tables.events(spark, sf)
      .select(col("event_type"), unix_micros(col("ts")), col("event_id"),
        col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100).toDouble))
      .groupBy(_._1)
      .map { case (t, rows) => t -> rows.sortBy(r => (r._2, r._3)).map(_._4) }
    for (((t, k), (n, r)) <- got) {
      val xs = series(t)
      val pairs = xs.dropRight(k).zip(xs.drop(k))
      assert(pairs.size.toLong == n, s"($t,$k) n")
      val pn = pairs.size.toDouble
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val want = (pn * sxy - sx * sy) /
        math.sqrt((pn * sxx - sx * sx) * (pn * syy - sy * sy))
      assert(math.abs(r - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"($t,$k): $r vs $want")
      assert(math.abs(r) <= 1.0 + 1e-12)
    }
  }

  test("fuzzy join recovers every planted 3rd-char deletion, distances exact") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val out = Dedup.fuzzyVocabJoin(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("token"),
        r.getAs[String]("query_term"), r.getAs[Int]("dist")))
    assert(out.nonEmpty)
    // every emitted distance is the true Levenshtein distance and <= 1
    out.foreach { case (_, tok, q, d) =>
      assert(d == lev(tok, q), s"$tok/$q")
      assert(d <= 1)
    }
    // recall on the planted family: every vocab token finds its own
    // 3rd-char-deleted form (the blocking key provably preserves it)
    val vocab = Tables.documents(spark, sf)
      .select(col("lang"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .where(length(col("tok")) >= 4)
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val pairs = out.map(p => (p._1, p._2, p._3)).toSet
    vocab.foreach { case (lang, tok) =>
      val planted = tok.substring(0, 2) + tok.substring(3)
      assert(pairs.contains((lang, tok, planted)), s"missing $lang/$tok")
    }
  }

  test("deletion-neighborhood execution matches brute force on a prefix-skewed vocab") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // every token shares the mega-prefix "zs" (the clean-fixture salt
    // family that sent the prefix-blocked join quadratic) + near-collision
    // families: zs1234/zs1235 (substitution), zs777/zs7777 (insertion)
    val toks = Seq("zs1234", "zs1235", "zs7777", "zs777x", "zs9000",
      "zsab", "zsabc")
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("fuzzyskew").toString)
    toks.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.fuzzyVocabJoin(spark, dir)
      .select("lang", "token", "query_term", "dist")
      .as[(String, String, String, Int)].collect().toSet
    // brute-force reference of the GATE SEMANTICS: same lang (all en),
    // same 2-char prefix, |Δlen| <= 1, lev <= 1, dirty = 3rd-char-deleted
    val dirty = toks.map(t => t.substring(0, 2) + t.substring(3)).distinct
    val want = (for {
      t <- toks; q <- dirty
      if t.substring(0, 2) == q.substring(0, 2)
      if math.abs(t.length - q.length) <= 1 && lev(t, q) <= 1
    } yield ("en", t, q, lev(t, q))).toSet
    assert(got == want, s"got ${got.size} want ${want.size}: " +
      s"missing=${want -- got} extra=${got -- want}")
    // the substitution family must be present: zs1234's deletion zs134?
    // no — the cross-family hit zs234 (from zs1234) vs zs1235 is BLOCKED
    // by the prefix rule, but zs123 (not derivable) is absent; the pin
    // that matters: zs7777 -> zs777 (deletion) also matches token zs777x?
    // lev(zs777x, zs777)=1 and prefixes agree -> must be found
    assert(got.contains(("en", "zs777x", "zs777", 1)))
    assert(got.contains(("en", "zs7777", "zs777", 1)))
  }

  test("chi-square readout is internally consistent") {
    val rows = Analytics.chiSquare(spark, sf).collect()
    val (tot, cells) = rows.partition(_.getAs[String]("event_type") == "__TOTAL__")
    assert(tot.length == 1)
    val n = cells.map(_.getAs[Long]("observed")).sum
    assert(tot.head.getAs[Long]("observed") == n)
    // expected sums back to N (cells tile the contingency table)
    val expSum = cells.map(_.getAs[Double]("expected")).sum
    assert(math.abs(expSum - n) < 1e-6 * n)
    // the total's contrib equals the sum of 6dp-rounded cell contribs
    val want = cells.map(r =>
      BigDecimal(r.getAs[Double]("contrib"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(tot.head.getAs[Double]("contrib") == want.toDouble)
    val nr = cells.map(_.getAs[String]("event_type")).distinct.length
    val nc = cells.map(_.getAs[Int]("dow")).distinct.length
    assert(tot.head.getAs[Double]("expected") == ((nr - 1) * (nc - 1)).toDouble)
  }

  test("dq checks: five verdict rows, ratios in [0,1], clean fixture passes") {
    val rows = Analytics.dqChecks(spark, sf).collect()
      .map(r => r.getAs[String]("check_name") ->
        (r.getAs[Double]("metric"), r.getAs[Boolean]("passed"))).toMap
    assert(rows.keySet == Set("completeness_value", "uniqueness_event_id",
      "domain_event_type", "range_value_0_1000", "wellformed_props"))
    rows.values.foreach { case (m, _) => assert(m >= 0.0 && m <= 1.0) }
    // the driver fixture is clean on all five constraints
    assert(rows.values.forall(_._2), s"failed checks: ${rows.filter(!_._2._2)}")
  }
}
