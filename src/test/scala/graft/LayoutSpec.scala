package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Layout}

/** Physical-layout helpers: bucketed exchange-free joins, salted skew
  * joins, keyed repartition; plus the bucketed embedding near-dup. */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without an Exchange (co-located join)") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    val daily = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
    Layout.writeBucketed(ev, "ev_b", 4, "user_id")
    Layout.writeBucketed(daily, "daily_b", 4, "user_id")
    // disable broadcast so the planner exercises the bucketed SMJ path
    // (at 100 TB neither side would broadcast)
    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("ev_b").join(spark.table("daily_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() == ev.count())
    }
  }

  test("salted join result equals plain join result (skew mitigation is semantics-free)") {
    val fact = Tables.events(spark, sf).select("event_id", "event_type", "value")
    val dim = Seq(("click", 1), ("error", 2), ("purchase", 3), ("signup", 4), ("view", 5))
      .toDF("event_type", "type_code")
    val plain = fact.join(dim, "event_type")
    val salted = Layout.saltedJoin(fact, dim, "event_type", "event_id", salt = 4)
    assert(salted.count() == plain.count())
    assert(salted.select("event_id", "type_code")
      .except(plain.select("event_id", "type_code")).count() == 0)
  }

  test("repartitionByKey produces hash partitioning on the key") {
    val df = Tables.events(spark, sf)
    val parted = Layout.repartitionByKey(df, 4, col("user_id"))
    assert(parted.rdd.getNumPartitions == 4)
    val plan = parted.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("partitioned write enables partition pruning (PartitionFilters, not data filters)") {
    val dir = Scratch.register(Files.createTempDirectory("graft_part_").toString) + "/events_by_type"
    Layout.writePartitioned(
      Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value"),
      dir, "event_type")
    val pruned = spark.read.parquet(dir).where(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    val expected = Tables.events(spark, sf).where(col("event_type") === "click").count()
    assert(pruned.count() == expected)
  }

  test("Lloyd-refined centroids are deterministic and recall does not regress") {
    import graft.operators.Similarity
    val e = Similarity.withNorm(spark, sf).cache()
    val n = e.count()
    val nc = Similarity.centroidCount(n)
    val r1 = Similarity.refineCentroids(e, nc, 2)
    val r2 = Similarity.refineCentroids(e, nc, 2)
    assert(r1.map(_._1).toSeq == r2.map(_._1).toSeq)
    assert(r1.zip(r2).forall { case (a, b) => a._2.toSeq == b._2.toSeq })

    // recall@k vs brute-force for seed vs refined probing
    val truth = Similarity.cosineTopK(spark, sf, nQueries = 5, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(refine: Int): Double = {
      val got = Similarity.annIvf(spark, sf, nQueries = 5, k = 5, refineIters = refine)
        .select("q_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      truth.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / truth.size
    }
    val seedR = recall(0)
    val refinedR = recall(2)
    assert(refinedR >= seedR - 1e-9, s"refined recall $refinedR < seed recall $seedR")
    e.unpersist()
  }

  test("z-order layout shrinks per-partition (x, y) bounding boxes vs hash layout") {
    // interleave is a bijection on 2×12-bit inputs, and a z-range layout
    // must give partitions whose 2-D footprint is far smaller than a
    // hash layout's (which spans the whole plane in every partition)
    val keyed = graft.operators.Relational.zorderKey(spark, sf)
    assert(keyed.select("zval").distinct().count()
      == keyed.select("zx", "zy").distinct().count(), "interleave must be 1:1")
    def meanArea(df: org.apache.spark.sql.DataFrame): Double = {
      val boxes = df
        .withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(((max("zx") - min("zx") + 1) * (max("zy") - min("zy") + 1))
          .cast("double").as("area"))
        .collect().map(_.getAs[Double]("area"))
      boxes.sum / boxes.length
    }
    val z = meanArea(Layout.zorderLayout(keyed, 8, "zval"))
    val hashed = meanArea(keyed.repartition(8, col("event_id")))
    assert(z < hashed / 2,
      s"z-order mean box area $z not clearly below hash layout $hashed")
  }

  test("embedding near-dup finds planted duplicate vectors via shared buckets") {
    // plant: vec 100 == vec 0 (duplicate), others random-ish -> only the
    // planted pair should exceed tau=0.99
    val base = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    val planted = (base + (100L -> base(0L))).toSeq.toDF("vec_id", "embedding")
    val dir = Scratch.register(Files.createTempDirectory("graft_emb_").toString)
    planted.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.embeddingNearDup(spark, dir, tau = 0.99).collect()
    assert(pairs.exists(r => r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 100L),
      s"planted dup not found: ${pairs.mkString(",")}")
  }
}
