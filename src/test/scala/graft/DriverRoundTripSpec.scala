package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.JobCount
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.GBTRegressor
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.etl.CorpusPipeline
import graft.ml.Pipelines
import graft.operators.{Dedup, Similarity, TimeWindows}

/** The driver round trips removed from the corpus path must be
  * result-invisible: pinned-schema loads, footer row counts, the folded
  * connected-components convergence check, the collected Bloom build and
  * the one-aggregate regression metrics each equal the formulation they
  * replace, kept here as the reference. Two job-count guards keep the
  * round trips from coming back. */
class DriverRoundTripSpec extends SparkTestBase {
  import spark.implicits._

  private val sf01 = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** The load every table had before: schema inferred on each call. */
  private def inferredLoad(t: String, d: String): DataFrame =
    if (t == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.normalizeEventTs(spark.read.parquet(s"$d/events.parquet"))
    } else spark.read.parquet(s"$d/$t.parquet")

  test("pinned-schema loads equal inferred loads on all ten sf0.01 tables") {
    for ((t, load) <- loaders) {
      load(spark, sf01)
      val (pinned, jobs) = JobCount(spark.sparkContext)(load(spark, sf01))
      assert(jobs == 0, s"$t: a repeated load launched $jobs jobs")
      val inferred = inferredLoad(t, sf01)
      assert(pinned.schema == inferred.schema, s"$t: schema differs (nullability included)")
      assert(rows(pinned) == rows(inferred), s"$t: rows differ")
    }
  }

  test("a file rewritten at the same path is inferred again") {
    val src = Scratch.dir("roundtrip_src")
    Seq((1L, "a b c")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/v1")
    Seq((1L, "a b c", "en"), (2L, "d e f", "de")).toDF("doc_id", "text", "lang").coalesce(1)
      .write.mode("overwrite").parquet(s"$src/v2")
    def part(v: String) = Files.list(Paths.get(s"$src/$v")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    val d = Scratch.dir("roundtrip_rewrite")
    Files.createDirectories(Paths.get(d))
    val target = Paths.get(s"$d/documents.parquet")
    Files.copy(Paths.get(part("v1")), target)
    assert(Tables.documents(spark, d).columns.toSeq == Seq("doc_id", "text"))
    assert(Tables.rowCount(spark, target.toString) == 1L)
    Files.copy(Paths.get(part("v2")), target, StandardCopyOption.REPLACE_EXISTING)
    val again = Tables.documents(spark, d)
    assert(again.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(again.count() == 2L && Tables.rowCount(spark, target.toString) == 2L)
  }

  test("footer rowCount equals count() on the sf0.01 tables and a multi-file dir, with no job") {
    for ((t, load) <- loaders) {
      val (n, jobs) = JobCount(spark.sparkContext)(Tables.rowCount(spark, s"$sf01/$t.parquet"))
      assert(jobs == 0, s"$t: rowCount launched $jobs jobs")
      assert(n == load(spark, sf01).count(), s"$t: rowCount differs from count()")
    }
    val d = Scratch.dir("roundtrip_multifile")
    Tables.documents(spark, sf01).repartition(3)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val multi = Tables.documents(spark, d)
    assert(multi.inputFiles.length == 3)
    assert(Tables.rowCount(spark, s"$d/documents.parquet") == multi.count())
  }

  /** The pre-fold formulation: a separate join diff against the previous
    * labels decides convergence. Returns the labels and the round count. */
  private def componentsByJoinDiff(edges: DataFrame, nodes: DataFrame): (Map[Any, Any], Int) = {
    val ec = edges.columns
    val sym = edges.select(col(ec(0)).as("__src"), col(ec(1)).as("__dst"))
      .unionAll(edges.select(col(ec(1)).as("__src"), col(ec(0)).as("__dst")))
      .localCheckpoint(true)
    var labels = nodes.select(col(nodes.columns.head).as("id"))
      .unionAll(sym.select(col("__src").as("id")))
      .distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged) {
      val prop = sym.join(labels, sym("__src") === labels("id"))
        .select(col("__dst").as("id"), col("comp"))
      val next = labels.unionAll(prop)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      converged = next.as("n")
        .join(labels.as("p"), col("n.id") === col("p.id"))
        .where(col("n.comp") =!= col("p.comp"))
        .isEmpty
      labels = next
      iter += 1
    }
    (labels.collect().map(r => r.get(0) -> r.get(1)).toMap, iter)
  }

  test("connected components: same labels and rounds as the join-diff convergence check") {
    val path = (0L until 12L).map(i => (i + 1, i)).toDF("a", "b")
    val clique = (for (i <- 20L to 25L; j <- 20L to 25L if i < j) yield (i, j)).toDF("a", "b")
    val mixed = Seq((2L, 1L), (2L, 3L), (10L, 11L), (30L, 31L), (31L, 32L), (32L, 30L))
      .toDF("a", "b")
    val strings = Seq(("b", "c"), ("c", "a"), ("y", "x")).toDF("x", "y")
    val fixtures = Seq(
      "path" -> (path, Seq(0L, 40L).toDF("id")),
      "clique" -> (clique, Seq(20L).toDF("id")),
      "mixed" -> (mixed, Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")),
      "string ids" -> (strings, Seq("a", "z").toDF("id")))
    for ((name, (edges, nodes)) <- fixtures) {
      val (want, rounds) = componentsByJoinDiff(edges, nodes)
      val got = Dedup.connectedComponents(edges, nodes, maxIter = rounds)
        .collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(got == want, s"$name: labels differ")
      val short = intercept[IllegalArgumentException](
        Dedup.connectedComponents(edges, nodes, maxIter = rounds - 1))
      assert(short.getMessage.contains("did not converge"),
        s"$name: converged in fewer than the reference's $rounds rounds")
    }
  }

  test("connected components on empty edges label every node as its own component") {
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val labels = Dedup.connectedComponents(edges, Seq(3L, 1L, 2L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("bloomDecontaminateChecked: same rows and Bloom bits as the checkpoint + stat.bloomFilter build") {
    val n = 3; val tau = 0.5; val fpp = 0.01
    val docs = Tables.documents(spark, sf01)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val eval = docs.where(col("doc_id") % 20 === 0)
    val evalSh = Dedup.hashedShingles(eval, n).select("sh").distinct().localCheckpoint(true)
    val bloom = evalSh.stat.bloomFilter("sh", math.max(evalSh.count(), 1L), fpp)
    def bits(b: BloomFilter): Seq[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      b.writeTo(out)
      out.toByteArray.toSeq
    }
    val hashes = evalSh.as[Long].collect().sorted
    assert(bits(Dedup.bloomOf(hashes, fpp)) == bits(bloom), "Bloom bits differ")
    val bc = spark.sparkContext.broadcast(bloom)
    val reference = Dedup.hashedShingles(train, n)
      .join(broadcast(evalSh.withColumn("exact_hit", lit(1L))), Seq("sh"), "left")
      .select(col("doc_id"), coalesce(col("exact_hit"), lit(0L)).as("exact_hit"), col("sh"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, ex, h) => (id, ex, if (b.mightContainLong(h)) 1L else 0L) }
      }
      .toDF("doc_id", "exact_hit", "bloom_hit")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum("exact_hit").as("n_hit"),
        sum("bloom_hit").as("n_bloom"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_sh"))
      .where(col("contamination") >= tau)
      .withColumn("bloom_flagged", col("n_bloom").cast("double") / col("n_sh") >= tau)
      .select("doc_id", "n_sh", "n_hit", "contamination", "bloom_flagged")
    val got = rows(Dedup.bloomDecontaminateChecked(spark, sf01))
    assert(got.nonEmpty)
    assert(got == rows(reference))
  }

  test("regression r2, rmse and mse are bit-equal to three RegressionEvaluators") {
    val labeled = TimeWindows.leadWindow(spark, sf)
      .withColumn("epoch_day", unix_timestamp(col("day").cast("timestamp")) / 86400)
      .withColumn("dow", dayofweek(col("day")).cast("double"))
      .repartition(2)
      .cache()
    val assembler = new VectorAssembler()
      .setInputCols(Array("day_max", "epoch_day", "dow")).setOutputCol("features")
    val gbt = new GBTRegressor()
      .setLabelCol("next_day_max").setFeaturesCol("features")
      .setMaxIter(10).setMaxDepth(4).setSeed(42L)
    val Array(train, test) = labeled.randomSplit(Array(0.75, 0.25), seed = 42L)
    val model = new Pipeline().setStages(Array(assembler, gbt)).fit(train.cache())
    val predictions = model.transform(test).cache()
    def eval(metric: String): Double = new RegressionEvaluator()
      .setLabelCol("next_day_max").setPredictionCol("prediction")
      .setMetricName(metric).evaluate(predictions)
    val got = Pipelines.regression(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    for (m <- Seq("r2", "rmse", "mse"))
      assert(java.lang.Double.doubleToRawLongBits(got(m)) ==
        java.lang.Double.doubleToRawLongBits(eval(m)), s"$m: ${got(m)} vs ${eval(m)}")
    labeled.unpersist()
  }

  test("pqTrain on fewer than k vectors or an empty frame fails with its named require") {
    val few = (0L until 5L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("vec_id", "embedding")
    for (e <- Seq(few, few.limit(0))) {
      val err = intercept[IllegalArgumentException](Similarity.pqTrain(e, m = 4, k = 16))
      assert(err.getMessage.contains("need at least k=16 vectors"))
    }
  }

  test("round-trip guard: corpusCleanDocs at sf0.001 stays within its job count") {
    // 25 jobs here; the formulation before the folded convergence check,
    // the single shingle pass and the pinned schema launched 32
    val docs = Tables.documents(spark, sf)
    val (_, jobs) = JobCount(spark.sparkContext)(CorpusPipeline.corpusCleanDocs(docs))
    assert(jobs <= 25, s"corpusCleanDocs launched $jobs jobs, more than its 25")
    Memo.sweep(spark)
  }
}
