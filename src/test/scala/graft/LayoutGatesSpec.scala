package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics
import graft.operators.{Layout, TemporalJoins, TimeWindows}

/** Gate-level plan + invariant pins for the physical-layout gate rows
  * (q_partition_prune / q_bucket_join / q_salted_join) and the new
  * window/CDC/drift queries. The DuckDB oracles pin the VALUES; these
  * tests pin the PLANS (pruning, exchange-freedom, salted keys) and the
  * structural invariants the oracles can't see. */
class LayoutGatesSpec extends SparkTestBase {
  import spark.implicits._

  test("q_partition_prune resolves the date predicate as a partition filter") {
    val df = Layout.partitionPrunedDaily(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("event_date"), plan)
    // the data filter list must NOT carry the date predicate — pruning
    // happens at directory level, before any row is read
    assert(!plan.contains("PushedFilters: [IsNotNull(event_date)"), plan)
  }

  test("q_bucket_join plans an exchange-free SortMergeJoin over bucketed scans") {
    val df = Layout.bucketJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("Bucketed: true"), plan)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
  }

  test("q_dpp inserts a DynamicPruningExpression into the fact scan") {
    val df = Layout.dppJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected runtime partition pruning in the fact scan:\n$plan")
    // the pruning must target the partition column, not a data column
    assert(plan.contains("PartitionFilters:"), plan)
  }

  test("q_bloom_join injects a runtime bloom filter on the application side") {
    // assert on the PRE-checkpoint plan with the same confs the gate
    // query sets (bloomPrunedJoin restores them after materializing)
    Session.withConf(spark, Layout.bloomConfs: _*) {
      val plan = Layout.bloomPrunedPlan(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected an injected bloom-filter probe:\n$plan")
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilterAggregate"),
        s"expected the creation-side bloom aggregate:\n$plan")
    }
  }

  test("q_bloom_join checkpointed result equals the plain semi-join") {
    val got = Layout.bloomPrunedJoin(spark, sf)
      .orderBy("user_id").collect().map(_.toSeq)
    val want = Layout.bloomPrunedPlan(spark, sf)
      .orderBy("user_id").collect().map(_.toSeq)
    assert(got.sameElements(want),
      "runtime bloom filter must be semantics-free")
  }

  test("q_aqe_skew splits the hot partition in the final adaptive plan") {
    Session.withConf(spark, Layout.aqeSkewConfs: _*) {
      val df = Layout.aqeSkewPlan(spark, sf)
      df.collect() // AQE finalizes THIS QueryExecution only on its own action
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"),
        s"expected the SMJ to be marked skew=true in the final plan:\n$plan")
    }
  }

  test("q_aqe_skew checkpointed result equals the plain join aggregate") {
    val got = Layout.aqeSkewJoin(spark, sf)
      .orderBy("skew_key").collect().map(_.toSeq)
    val want = Layout.aqeSkewPlan(spark, sf)
      .orderBy("skew_key").collect().map(_.toSeq)
    assert(got.sameElements(want), "AQE skew split must be semantics-free")
  }

  test("q_salted_join shuffles on the salted compound key") {
    val df = Layout.saltedTypeJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"expected salted join keys:\n$plan")
    assert(plan.contains("hashpartitioning(event_type"), plan)
  }

  test("scd2 intervals tile each user's timeline: one open interval, " +
      "maximal runs, valid_to chains to the next valid_from") {
    val rows = TemporalJoins.scd2Intervals(spark, sf)
      .orderBy("user_id", "run_id").collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, ivs) =>
      assert(ivs.count(_.getAs[Boolean]("is_current")) == 1,
        s"user $u must have exactly one open interval")
      ivs.sliding(2).foreach {
        case Array(a, b) =>
          // runs are maximal: adjacent intervals change status
          assert(a.getAs[String]("status") != b.getAs[String]("status"),
            s"user $u has two adjacent runs with the same status")
          // and chain without gaps: valid_to == next valid_from
          assert(a.getAs[java.sql.Timestamp]("valid_to")
            == b.getAs[java.sql.Timestamp]("valid_from"), s"user $u gap")
        case _ => ()
      }
    }
  }

  test("hopping windows cover each event exactly duration/slide = 3 times") {
    val hops = TimeWindows.hoppingCounts(spark, sf)
    val total = hops.agg(sum("n")).head.getLong(0)
    val nEvents = Tables.events(spark, sf).count()
    assert(total == 3 * nEvents, s"$total != 3 * $nEvents")
    val badSpan = hops.where(
      unix_micros(col("w_end")) - unix_micros(col("w_start")) =!= 1800000000L)
    assert(badSpan.count() == 0, "every hop must span exactly 30 minutes")
  }

  test("time-range rolling window matches a brute-force trailing-hour recompute") {
    val got = TemporalJoins.rangeRollingStats(spark, sf)
      .select("event_id", "n_1h").as[(Long, Long)].collect().toMap
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")))
      .as[(Long, Long, Long)].collect()
    rows.groupBy(_._2).foreach { case (_, evs) =>
      evs.foreach { case (id, _, t) =>
        val expect = evs.count(e => e._3 <= t && e._3 >= t - 3600000000L)
        assert(got(id) == expect, s"event $id trailing-hour count")
      }
    }
  }

  test("corpus drift report is ordered by the integer score with unique tokens") {
    val rows = TextAnalytics.corpusDrift(spark, sf).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[String]("token")).distinct.length == 20)
    val scores = rows.map(_.getAs[Long]("score"))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    rows.foreach { r =>
      val pa = r.getAs[Double]("p_a"); val pb = r.getAs[Double]("p_b")
      assert(pa >= 0 && pa <= 1 && pb >= 0 && pb <= 1)
    }
  }
}
