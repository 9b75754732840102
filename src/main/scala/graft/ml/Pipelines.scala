package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature.{IndexToString, SQLTransformer, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.SensorEtl
import graft.operators.TimeWindows

/** ML pipelines (SURVEY.md §2.10, M1-M10), Scala-native spark.ml — the
  * exact classes the reference's Python wrappers call.
  *
  * Classification mirrors `/root/reference/sensor_data_classification.py`:
  * wide features → StringIndexer(label) → VectorAssembler → MLP →
  * IndexToString — with the reference's bug fixed (its IndexToString read
  * `label`, printing ground truth as "prediction"; ours reads
  * `prediction`, SURVEY §8.3). Regression mirrors
  * `sensor_data_regression.py`: daily max + lead label → VectorAssembler →
  * GBTRegressor → r2/rmse + featureImportances. randomSplit is SEEDED
  * (the reference's is not, SURVEY §8.5). Model save/load (S6) is
  * round-tripped inside the classification pipeline.
  */
object Pipelines {

  private val featureCols = Array("click", "error", "purchase", "view")

  /** Partition count for the small cached feature frames the iterative
    * fits (LBFGS / GBT boosting rounds / CV grids) read: ~1 partition
    * per 7 M rows of the events fact table feeding them, floor 2,
    * capped at 32 × defaultParallelism. Iterative fitting launches a
    * job per iteration, so at suite scales a 2-partition collapse keeps
    * per-job task overhead from dominating — and because the floor
    * reproduces the historical repartition(2) exactly there, every
    * seeded pin stays byte-identical. Above the floor the count grows
    * with the data, so the 13 concurrent seeded fits under q_cross_val
    * are no longer serialized onto 2 threads (the r14 sf100 receipt
    * measured that literal collapse at 34× per 3.33× step; the r15
    * fix's curve is LINEAR at every notch).
    *
    * Two r15 refinements: (1) the measure is the parquet LOGICAL row
    * count (the footer row counts, `Tables.rowCount` — no Spark job),
    * not compressed on-disk bytes — byte sizing flips with the parquet
    * codec/layout near a boundary, making the seeded-fit determinism
    * pins environment-sensitive (ADVICE r15 #3); 7 M rows is the
    * measured byte-rule equivalent (events compress to ~18 B/row, so
    * 128 MB ≈ 7.1 M rows) and reproduces the byte-derived count at
    * every ScaleUp notch (sf10 2, sf30 5, sf60 9, sf100 15), so every
    * historical receipt and seeded pin holds. (2) the 32×-parallelism
    * cap bounds the 100 TB extrapolation (VERDICT r15 #3): the labeled
    * frames are per-(user, day) aggregates far smaller than the fact,
    * so an uncapped formula would emit ~780 K partitions for a few-GB
    * frame and pay per-iteration task launch × 13 CV fits for nothing.
    * At 1000 executors the cap still yields tens of thousands of
    * fit-frame partitions — parallelism-bound, not formula-bound. */
  private def fitPartitions(s: SparkSession, d: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
    val rows =
      if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
        graft.Tables.rowCount(s, p.toString)
      else 0L
    // The cap is a DATA-ONLY constant (ADVICE r16 #1): the r16 form was
    // 32 × defaultParallelism, which re-introduced environment
    // sensitivity above the cap — the fit-frame partition count (and so
    // every seeded fit's round-robin repartition) would depend on the
    // machine's core count once rows/7M exceeded it. 1024 is the same
    // value on this 32-thread box (every historical receipt and seeded
    // pin reproduces bit-for-bit) and is reached only past ~7.1 B event
    // rows, where the labeled per-(user, day) fit frame is still a
    // thousand healthy partitions on any cluster width.
    math.max(2L, math.min(1024L, (rows + 6999999L) / 7000000L)).toInt
  }

  /** M1-M5,M7,M8 + S6 — gas-event-classifier analog: per-(user,day) wide
    * features, label = code_name. Returns per-class prediction counts
    * (stable, small output). */
  def classification(s: SparkSession, d: String): DataFrame = {
    val fit = classificationFit(s, d)
    fit.predictions
      .groupBy("predicted_target")
      .agg(count(lit(1)).as("n"))
      .withColumn("f1", lit(fit.f1))
  }

  /** The fitted state [[classification]] and [[classificationVerdict]]
    * share: labels, split sizes, reloaded-model predictions, f1. */
  private case class ClsFit(data: DataFrame, labels: Array[String],
      nTrain: Long, nTest: Long, predictions: DataFrame, f1: Double)

  private def classificationFit(s: SparkSession, d: String): ClsFit = {
    // ~150 users × 30 days of features at suite sf — tiny relative to
    // cluster width; [[fitPartitions]] collapses to 2 there and grows
    // with the data past 128 MB of events.
    val data = SensorEtl.wide(s, d)
      .select(col("code_name").as("target"),
        col("click"), col("error"), col("purchase"), col("view"))
      .repartition(fitPartitions(s, d))
      .cache()

    val indexer: StringIndexerModel = new StringIndexer()
      .setInputCol("target").setOutputCol("label")
      .setStringOrderType("alphabetAsc")   // deterministic label ids
      .fit(data)
    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
    val mlp = new MultilayerPerceptronClassifier()
      .setLayers(Array(featureCols.length, 20, indexer.labelsArray.head.length))
      .setSeed(42L).setMaxIter(20)
    val decoder = new IndexToString()
      .setInputCol("prediction").setOutputCol("predicted_target")
      .setLabels(indexer.labelsArray.head)
    val pipeline = new Pipeline().setStages(Array(indexer, assembler, mlp, decoder))

    val Array(train, test) = data.randomSplit(Array(0.75, 0.25), seed = 42L)
    val model = pipeline.fit(train.cache())

    // S6: model save/load round-trip; predictions come from the RELOADED
    // model, proving persistence end-to-end (cf. sensor_data_classification.py:66).
    // The scratch dir goes through the shared Scratch helper (PID-suffixed
    // path + shutdown-hook cleanup — same discipline as the format
    // roundtrips); overwrite() makes repeated calls in one JVM idempotent.
    val dir = graft.Scratch.dir("mlp_model")
    model.write.overwrite().save(dir)
    val reloaded = PipelineModel.load(dir)
    val predictions = reloaded.transform(test).cache()

    val f1 = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .evaluate(predictions)
    ClsFit(data, indexer.labelsArray.head, train.count(), test.count(),
      predictions, f1)
  }

  /** [[classification]] re-gated at its VERDICT POINT (r14, extending the
    * q_pca / q_word2vec precedent to the seeded-fit family): the MLP's
    * predictions are seeded-JVM floats no other engine reproduces, but
    * everything AROUND the fit is exactly checkable — the class universe
    * and its per-class row counts over the full wide table (the same
    * q_etl_wide CTE the oracle derives them from), alphabetAsc label ids,
    * and contract booleans over the fit itself: the seeded randomSplit is
    * exhaustive (train+test = total — Bernoulli sampling with
    * complementary ranges), every predicted class is drawn from the
    * indexer's label universe, f1 ∈ [0,1], the RELOADED model scored
    * exactly the test rows, and the indexer's labels are exactly the
    * sorted distinct class universe. A wrong ETL spine fails hash-exactly; a
    * broken fit/round-trip flips a boolean. The per-class prediction
    * counts stay visible through [[classification]] and MlPipelineSpec.
    * Bounded driver collect: one ≤|classes|-row aggregate (≤7 here —
    * the pcaVerdict moment-row class). */
  def classificationVerdict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fit = classificationFit(s, d)
    val nTotal = fit.data.count()
    val splitOk = fit.nTrain + fit.nTest == nTotal
    val predTargets = fit.predictions.select("predicted_target")
      .distinct().collect().map(_.getString(0)).toSet  // ≤ |classes| rows
    val predsOk = predTargets.subsetOf(fit.labels.toSet)
    val f1Ok = fit.f1 >= 0.0 && fit.f1 <= 1.0 + 1e-12
    val predCountOk = fit.predictions.count() == fit.nTest
    val classCounts = fit.data.groupBy(col("target"))
      .agg(count(lit(1)).as("n_class"))
      .collect()                                       // ≤ |classes| rows
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    // the indexer fit on the FULL frame with alphabetAsc, so its label
    // array must be exactly the sorted distinct class universe
    val indexerOk = fit.labels.sameElements(classCounts.map(_._1))
    classCounts.zipWithIndex.map { case ((t, n), i) =>
      (t, n, i, splitOk, predsOk, f1Ok, predCountOk, indexerOk)
    }.toSeq.toDF("target", "n_class", "label_id", "split_exhaustive_ok",
      "preds_in_universe_ok", "f1_unit_ok", "pred_count_ok",
      "indexer_alphabetical_ok")
  }

  /** M1,M6,M7,M9,M10 — "max H2S tomorrow" analog: per-user daily max +
    * next-day label (lead over a series-partitioned window — the scale-safe
    * fix of the reference's global window), epoch + day-of-week features,
    * GBT regression. Returns a metrics table (r2, rmse, importances). */
  def regression(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fit = regressionFit(s, d)
    (Seq("r2" -> fit.r2, "rmse" -> fit.rmse, "mse" -> fit.mse) ++
      Array("day_max", "epoch_day", "dow").zip(fit.importances)
        .map { case (f, v) => s"importance_$f" -> v })
      .toDF("metric", "value")
  }

  /** The fitted state [[regression]] and [[regressionVerdict]] share.
    * The split halves stay lazy: only the verdict counts them. */
  private case class RegFit(labeled: DataFrame, train: DataFrame, predictions: DataFrame,
      r2: Double, rmse: Double, mse: Double, importances: Array[Double])

  /** The cached GBT fit frame of [[regressionFit]] and [[crossValidateFit]]:
    * q_lead_window rows with `epoch_day` and `dow`; a small table read by a
    * job per boosting round, so a data-sized partition count. */
  private[graft] def labeledFrame(s: SparkSession, d: String): DataFrame =
    TimeWindows.leadWindow(s, d)
      .withColumn("epoch_day", unix_timestamp(col("day").cast("timestamp")) / 86400)
      .withColumn("dow", dayofweek(col("day")).cast("double"))
      .repartition(fitPartitions(s, d))
      .cache()

  private def regressionFit(s: SparkSession, d: String): RegFit = {
    val labeled = labeledFrame(s, d)
    val assembler = new VectorAssembler()
      .setInputCols(Array("day_max", "epoch_day", "dow")).setOutputCol("features")
    val gbt = new GBTRegressor()
      .setLabelCol("next_day_max").setFeaturesCol("features")
      .setMaxIter(10).setMaxDepth(4).setSeed(42L)
    val pipeline = new Pipeline().setStages(Array(assembler, gbt))

    // no cache on the split: GBT persists its own instances, and the
    // predictions have one reader in regression
    val Array(train, test) = labeled.randomSplit(Array(0.75, 0.25), seed = 42L)
    val model = pipeline.fit(train)
    val predictions = model.transform(test)

    // the evaluator's own metrics object: one aggregation job serves r2,
    // rmse and mse, each the value evaluate() would return for it
    val metrics = new RegressionEvaluator()
      .setLabelCol("next_day_max").setPredictionCol("prediction")
      .getMetrics(predictions)

    val gbtModel = model.stages.last.asInstanceOf[GBTRegressionModel]
    RegFit(labeled, train, predictions,
      metrics.r2, metrics.rootMeanSquaredError, metrics.meanSquaredError,
      gbtModel.featureImportances.toArray)
  }

  /** [[regression]] re-gated at its VERDICT POINT (r14, seeded-fit
    * family): the GBT's metrics are seeded-JVM floats, but the LABELED
    * FRAME feeding it is the oracle-exact q_lead_window spine — the gate
    * emits its exact row count and exact integer-cents label sum (`value`
    * carries 2 decimals, so next_day_max = max(value) does too — the
    * q_pca integer-cents device), plus contract booleans over the fit:
    * r2 ≤ 1, rmse ≥ 0, rmse² = mse (the two evaluators agree with each
    * other), featureImportances a probability vector (each ≥ 0, sum = 1),
    * and the seeded split exhaustive. The metric values stay visible
    * through [[regression]] and MlPipelineSpec. */
  def regressionVerdict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val fit = regressionFit(s, d)
    val m = fit.labeled.agg(
      count(lit(1)).as("n_labeled"),
      sum((col("next_day_max").cast(DecimalType(18, 2)) * 100)
        .cast("long")).as("label_cents_sum")).head()
    val nLabeled = m.getAs[Long]("n_labeled")
    val splitOk = fit.train.count() + fit.predictions.count() == nLabeled
    val impOk = fit.importances.forall(_ >= 0.0) &&
      math.abs(fit.importances.sum - 1.0) <= 1e-6
    val rmseMseOk = math.abs(fit.rmse * fit.rmse - fit.mse) <=
      1e-9 * math.max(1.0, fit.mse)
    Seq((nLabeled, m.getAs[Long]("label_cents_sum"), 3,
      fit.r2 <= 1.0 + 1e-12, fit.rmse >= 0.0, rmseMseOk, impOk, splitOk))
      .toDF("n_labeled", "label_cents_sum", "features_dim", "r2_le_1_ok",
        "rmse_nonneg_ok", "rmse_mse_consistent_ok", "importances_ok",
        "split_exhaustive_ok")
  }

  /** M-family extension — K-fold cross-validation over the GBT
    * regressor's (maxDepth, maxIter) grid: the model-selection loop every
    * production fit runs instead of a single split. CrossValidator fits
    * |grid|×k models; setParallelism(4) runs the fits CONCURRENTLY —
    * on a cluster each fit is its own job DAG, so the grid scales out
    * embarrassingly (the data, cached once, is shared by all fits).
    * Deterministic: seeded folds, seeded GBT, alphabetical grid order.
    * Output: one row per grid point with its mean CV RMSE, the chosen
    * params flagged — numbers are seeded-JVM fits, so spec-pinned
    * (CrossValSpec: best point beats worst, chosen flag unique). */
  def crossValidate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fit = crossValidateFit(s, d)
    fit.metrics.map { case (depth, iter, rmse) =>
      (depth, iter, rmse, rmse == fit.best)
    }.toDF("max_depth", "max_iter", "cv_rmse", "chosen")
  }

  /** The fitted CV state [[crossValidate]] and [[crossValidateVerdict]]
    * share: (maxDepth, maxIter, mean CV rmse) per grid point, the best
    * rmse, the labeled-frame row count, and the (maxDepth, maxIter)
    * CrossValidator itself selected (from `model.bestModel` — Spark's
    * own argmin, independent of our re-derivation). */
  private case class CvFit(metrics: Seq[(Int, Int, Double)], best: Double,
      nLabeled: Long, sparkChose: (Int, Int))

  private def crossValidateFit(s: SparkSession, d: String): CvFit = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val labeled = labeledFrame(s, d)
    try {
      val assembler = new VectorAssembler()
        .setInputCols(Array("day_max", "epoch_day", "dow")).setOutputCol("features")
      val gbt = new GBTRegressor()
        .setLabelCol("next_day_max").setFeaturesCol("features").setSeed(42L)
      val pipeline = new Pipeline().setStages(Array(assembler, gbt))
      val grid = new ParamGridBuilder()
        .addGrid(gbt.maxDepth, Array(2, 4))
        .addGrid(gbt.maxIter, Array(5, 10))
        .build()
      val evaluator = new RegressionEvaluator()
        .setLabelCol("next_day_max").setPredictionCol("prediction")
        .setMetricName("rmse")
      // 4 concurrent seeded fits (results are parallelism-independent —
      // the r15 cross-parallelism determinism receipts cover this gate)
      val cv = new CrossValidator()
        .setEstimator(pipeline).setEvaluator(evaluator)
        .setEstimatorParamMaps(grid).setNumFolds(3)
        .setParallelism(4).setSeed(42L)
      val model = cv.fit(labeled)
      val metrics = grid.zip(model.avgMetrics).toSeq.map { case (pm, rmse) =>
        (pm.get(gbt.maxDepth).get, pm.get(gbt.maxIter).get, rmse)
      }
      val bestGbt = model.bestModel.asInstanceOf[PipelineModel]
        .stages.last.asInstanceOf[GBTRegressionModel]
      CvFit(metrics, metrics.map(_._3).min, labeled.count(),
        (bestGbt.getMaxDepth, bestGbt.getMaxIter))
    } finally { labeled.unpersist(); () }
  }

  /** [[crossValidate]] re-gated at its VERDICT POINT (r14, seeded-fit
    * family): the per-grid-point mean CV rmse values are seeded-JVM
    * floats, but the grid ENUMERATION and the labeled frame are exact —
    * the gate emits the (maxDepth, maxIter) grid (fixed literals the
    * oracle re-enumerates) and the labeled-frame row count, plus the
    * selection contract: every mean CV rmse finite and positive;
    * `n_at_min` — how many grid points achieve the minimum mean rmse —
    * as an INTEGER the oracle pins to 1 (so an exact rmse tie between
    * two grid points surfaces as a visible 2 ≠ 1 in the dump, not an
    * opaque boolean flip; ties are assumed absent for seeded continuous
    * fits — ADVICE r14); and `spark_chose_argmin_ok` — CrossValidator's
    * OWN selected model (`model.bestModel`) carries exactly our
    * re-derived argmin's (maxDepth, maxIter), so the gate checks Spark's
    * selection against an independent re-derivation instead of a
    * tautology. The rmse values and selection stay visible through
    * [[crossValidate]] and CrossValAlsSpec (best beats worst, chosen
    * unique). */
  def crossValidateVerdict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fit = crossValidateFit(s, d)
    val rmseOk = fit.metrics.forall { case (_, _, r) =>
      !r.isNaN && !r.isInfinite && r > 0.0 }
    val nAtMin = fit.metrics.count(_._3 == fit.best).toLong
    val argmin = fit.metrics.filter(_._3 == fit.best)
      .map { case (depth, iter, _) => (depth, iter) }
    val sparkChoseArgmin = argmin.contains(fit.sparkChose)
    fit.metrics.map { case (depth, iter, _) =>
      (depth, iter, fit.nLabeled, rmseOk, nAtMin, sparkChoseArgmin)
    }.toDF("max_depth", "max_iter", "n_labeled", "rmse_finite_pos_ok",
      "n_at_min", "spark_chose_argmin_ok")
  }

  /** M-family extension — ALS implicit-feedback recommender over the
    * (user, event_type) interaction counts: the matrix-factorization
    * workhorse for behavioral recommendation, run in implicit mode
    * (Hu/Koren/Volinsky 2008) because counts are confidence, not
    * ratings. ALS on a cluster alternates block-solved least squares
    * with both factor matrices block-partitioned — the canonical
    * "model too big for one node" MLlib algorithm (here 5 items × rank 4,
    * but the plan shape is the distributed one). Deterministic: seeded
    * init, fixed blocks. Output: per event_type, the count of users for
    * whom it is the top-1 recommendation, plus coverage stats —
    * aggregate, so small and stable; numbers are seeded-JVM fits →
    * spec-pinned (AlsSpec: dominant observed item dominates recs). */
  def alsRecommend(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (top1, _) = alsTop1(s, d)
    try {
      val names = Seq(0 -> "click", 1 -> "error", 2 -> "purchase",
        3 -> "signup", 4 -> "view").toDF("item", "event_type")
      // collect is bounded by the 5-item universe (≤ 5 rows); localizing
      // lets the finally release the top1 cache instead of leaking it
      // for the driver's lifetime (ADVICE r14)
      top1.join(broadcast(names), Seq("item"))
        .groupBy("event_type").agg(count(lit(1)).as("n_users_top1"))
        .collect().toSeq
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_users_top1")))
        .toDF("event_type", "n_users_top1")
    } finally { top1.unpersist(); () }
  }

  /** The fitted ALS state [[alsRecommend]] and [[alsRecommendVerdict]]
    * share: the per-user top-1 recommendation frame (one row per covered
    * user) and the distinct interacting-user count. */
  private def alsTop1(s: SparkSession, d: String): (DataFrame, Long) = {
    import org.apache.spark.ml.recommendation.ALS
    val interactions = graft.Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("item_id",
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "error", 1)
          .when(col("event_type") === "purchase", 2)
          .when(col("event_type") === "signup", 3).otherwise(4))
      .select(col("user_id").cast("int").as("user"),
        col("item_id").as("item"), col("cnt").cast("float").as("rating"))
      .cache()
    try {
      val als = new ALS()
        .setImplicitPrefs(true).setRank(4).setMaxIter(8)
        .setRegParam(0.1).setAlpha(1.0).setSeed(42L)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setNumUserBlocks(4).setNumItemBlocks(1)
      val model = als.fit(interactions)
      model.setColdStartStrategy("drop")
      val top1 = model.recommendForAllUsers(1)
        .select(col("user"), expr("recommendations[0].item").as("item"))
        .cache()
      top1.count()  // materialize before the input cache is released
      (top1, interactions.select("user").distinct().count())
    } finally { interactions.unpersist(); () }
  }

  /** [[alsRecommend]] re-gated at its VERDICT POINT (r14, seeded-fit
    * family): which item tops each user's recommendations is a seeded-JVM
    * fit, but the INTERACTION UNIVERSE is exact — the gate emits, per
    * event type, the distinct interacting-user count (DuckDB-derivable
    * from events), plus contract booleans over the fit: every training
    * user received a recommendation (coverage — every user is a training
    * user, so cold-start drop removes none), exactly one per user, and
    * every recommended item drawn from the 5-item universe. The
    * recommendation distribution stays visible through [[alsRecommend]]
    * and CrossValAlsSpec (dominant observed item dominates recs). */
  def alsRecommendVerdict(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (top1, nUsers) = alsTop1(s, d)
    val (nRecs, nRecUsers, itemsValid) = try {
      (top1.count(),
        top1.select("user").distinct().count(),
        top1.where(col("item") < 0 || col("item") > 4).count() == 0L)
    } finally { top1.unpersist(); () }  // terminal top1 actions done (ADVICE r14)
    val coverageOk = nRecUsers == nUsers
    val oneRecOk = nRecs == nRecUsers
    graft.Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users_observed"))
      .withColumn("rec_coverage_ok", lit(coverageOk))
      .withColumn("rec_items_valid_ok", lit(itemsValid))
      .withColumn("one_rec_per_user_ok", lit(oneRecOk))
  }

  /** M-family extension — FPGrowth frequent itemsets over each user's
    * distinct event-type basket: the market-basket / co-occurrence
    * miner. FP-Growth builds per-partition conditional FP-trees and
    * merges them (a parallel-aggregate shape, no candidate-generation
    * joins — why it beats Apriori at scale). Support counts are EXACT,
    * and the item universe here is enumerable (5 types → 31 possible
    * itemsets), so the whole output is DuckDB-oracle-checkable: itemsets
    * canonicalized by alphabetical sort + '+'-join; freq ≥
    * ceil(minSupport·n) matches integer-freq ≥ minSupport·n exactly. */
  def freqItemsets(s: SparkSession, d: String, minSupport: Double = 0.3): DataFrame = {
    import org.apache.spark.ml.fpm.FPGrowth
    val baskets = graft.Tables.events(s, d)
      .groupBy("user_id")
      .agg(array_sort(collect_set(col("event_type"))).as("items"))
    val model = new FPGrowth()
      .setItemsCol("items").setMinSupport(minSupport).setMinConfidence(0.5)
      .fit(baskets)
    model.freqItemsets
      .select(array_join(array_sort(col("items")), "+").as("itemset"),
        col("freq"))
  }

  /** M-family extension — Word2Vec (skip-gram) trained on the document
    * tokens, probed for nearest neighbors of a vocabulary word: the
    * train-embeddings-inside-the-engine block (the same shape feeds the
    * `embeddings` table of a real pipeline).
    *
    * The DEFAULT fit is distributed (`numPartitions = 0` resolves to
    * `defaultParallelism`): Spark's Word2Vec averages per-partition
    * Hogwild updates each iteration, so the fit parallelizes across the
    * corpus — the plan you'd run at 100 TB. The trade is bit-determinism:
    * partition boundaries shape the averaged gradients and the
    * cross-partition float reduction order is not fixed, so two
    * distributed fits can differ at tie margins even on the same layout
    * (measured in CrossValAlsSpec: one tie-margin neighbor swap, both
    * in-topic). Pass `numPartitions = 1` to get the serial,
    * bit-reproducible fit — the determinism spec uses that form, and the
    * planted-structure spec (CrossValAlsSpec "planted synonym structure")
    * gates that the distributed default preserves the learned synonym
    * structure the serial fit finds. Output similarities are seeded-JVM
    * floats → spec-pinned, not oracled. */
  def word2vec(s: SparkSession, d: String, probe: String = "spark",
      topK: Int = 5, numPartitions: Int = 0): DataFrame = {
    val docs = graft.Tables.documents(s, d)
      .select(split(lower(trim(col("text"))), "\\s+").as("tokens"))
    word2vecSynonyms(s, docs, probe, topK, numPartitions)
  }

  /** Core of [[word2vec]] over an arbitrary `tokens: array<string>` frame —
    * exposed so specs can fit on a planted-structure corpus (the driver
    * testdata's document text is a near-uniform 31-word bag, where synonym
    * neighborhoods are chance-level no matter how the fit is partitioned). */
  def word2vecSynonyms(s: SparkSession, docs: DataFrame, probe: String,
      topK: Int, numPartitions: Int = 0, minCount: Int = 5): DataFrame = {
    import org.apache.spark.ml.feature.Word2Vec
    // Cross-parallelism determinism (r14 receipt, DETERMINISM_r14.json):
    // W2V's distributed SGD merges per-partition updates, so the fitted
    // vectors depend on BOTH the training partition count and the row
    // distribution feeding MLlib's internal round-robin repartition.
    // q_word2vec was the ONE gate whose local[8] and local[32] outputs
    // differed (217/218), because (a) numPartitions was keyed to the
    // session's thread count and (b) the parquet scan's split layout —
    // also session-dependent — leaked through repartition(). Pin both:
    // a fixed training parallelism (8; a deployment scales it EXPLICITLY
    // via the parameter and owns the quality/parallelism trade) and a
    // content-deterministic input layout (hash-repartition on the
    // sentence text + a local sort), making the whole fit a pure
    // function of corpus content. After the pin: 218/218 identical.
    val parts = if (numPartitions > 0) numPartitions else 8
    val prepped = docs
      .withColumn("graft_w2v_key", concat_ws(" ", col("tokens")))
      .repartition(parts, col("graft_w2v_key"))
      .sortWithinPartitions("graft_w2v_key")
      .drop("graft_w2v_key")
    val model = new Word2Vec()
      .setInputCol("tokens").setOutputCol("vec")
      .setVectorSize(16).setSeed(42L).setMinCount(minCount)
      .setMaxIter(1).setNumPartitions(parts)
      .fit(prepped)
    model.findSynonyms(probe, topK)
      .select(lit(probe).as("probe"), col("word"),
        round(col("similarity"), 6).as("similarity"))
  }

  /** [[word2vec]] re-gated at its PARALLELISM-INDEPENDENT verdict point
    * (r14, closing the determinism receipt): the fitted vectors — and
    * with them the synonym ranking — are not a pure function of corpus
    * content across session parallelism, because MLlib's learnVocab
    * assigns vocab indices by count with TIES broken in reduceByKey
    * collect order, which follows sparkContext.defaultParallelism (the
    * one 217/218 mismatch in DETERMINISM_r14.json, root-caused; the
    * input-layout and numPartitions pins in [[word2vecSynonyms]] remove
    * every OTHER source). The gate therefore emits what IS a pure
    * function of content: the exact vocab size (minCount filter on
    * exact integer counts — DuckDB-derivable from the same tokenizer
    * CTE), the fixed dims, the synonym count, and contract booleans
    * over the fitted model (similarities within [-1, 1], the probe
    * never its own synonym, every synonym drawn from the vocab). The
    * oracle derives the integers and pins the booleans to TRUE; the
    * synonym ROWS stay visible through [[word2vecSynonyms]] and its
    * spec, which pins within-session determinism and planted-structure
    * recovery. */
  def word2vecAudit(s: SparkSession, d: String, probe: String = "spark",
      topK: Int = 5, minCount: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.ml.feature.Word2Vec
    val docs = graft.Tables.documents(s, d)
      .select(split(lower(trim(col("text"))), "\\s+").as("tokens"))
      .withColumn("graft_w2v_key", concat_ws(" ", col("tokens")))
      .repartition(8, col("graft_w2v_key"))
      .sortWithinPartitions("graft_w2v_key")
      .drop("graft_w2v_key")
    val model = new Word2Vec()
      .setInputCol("tokens").setOutputCol("vec")
      .setVectorSize(16).setSeed(42L).setMinCount(minCount)
      .setMaxIter(1).setNumPartitions(8)
      .fit(docs)
    val vectors = model.getVectors // (word, vector), vocab-sized
    val vocabSize = vectors.count()
    val dims = vectors.select(col("vector")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val syn = model.findSynonyms(probe, topK)
    val synRows = syn.collect() // <= topK rows, bounded
    val words = synRows.map(_.getAs[String]("word")).toSet
    val inVocab = vectors.where(col("word").isin(words.toSeq: _*)).count()
    Seq((probe, vocabSize, dims, synRows.length.toLong,
      synRows.forall(r => math.abs(r.getAs[Double]("similarity")) <= 1.0 + 1e-9),
      !words.contains(probe),
      inVocab == words.size.toLong))
      .toDF("probe", "vocab_size", "vector_dims", "n_synonyms",
        "sims_unit_ok", "probe_excluded", "synonyms_in_vocab")
  }

  /** M11 — PCA over the wide features. The reference imports PCA
    * (`sensor_data_regression.py:5`) but its one use is commented out
    * (`:64`); here it is live. Output is the k×features loading matrix plus
    * explained variance, one row per component — sign-normalized (each
    * component's largest-|loading| entry made positive) because
    * eigenvectors are sign-ambiguous across solvers. The fit is one
    * covariance/Gramian aggregation over the corpus (a single reduce —
    * fine at 100 TB); the eigendecomposition happens on the driver on a
    * features×features matrix, which is tiny. */
  def pca(s: SparkSession, d: String, k: Int = 2): DataFrame = {
    import s.implicits._
    val data = SensorEtl.wide(s, d).select(featureCols.map(col).toSeq: _*)
    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
    val model = new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pc").setK(k)
      .fit(assembler.transform(data))
    val pcm = model.pc                       // features × k, column-major
    val ev = model.explainedVariance.toArray
    (0 until k).map { j =>
      val loadings = Array.tabulate(featureCols.length)(i => pcm(i, j))
      val maxIdx = loadings.indices.maxBy(i => math.abs(loadings(i)))
      val sgn = if (loadings(maxIdx) < 0) -1.0 else 1.0
      val l = loadings.map(_ * sgn)
      (j, ev(j), l(0), l(1), l(2), l(3))
    }.toDF("component", "explained_variance",
      "load_click", "load_error", "load_purchase", "load_view")
  }

  /** [[pca]] re-gated at its COVARIANCE POINT (r13 verdict #6): the
    * eigensolve itself is a driver-side LAPACK call no other engine
    * replays, but everything AROUND it is exactly checkable —
    *
    *  - the 4×4 sample covariance of the wide features is derivable in
    *    DuckDB from integer-cents moments: `value` carries 2 decimals,
    *    so x_c = CAST(x AS DECIMAL(18,2))·100 is an exact integer and
    *    cov_ij = (n·Σx_i x_j − Σx_i·Σx_j) / (n·(n−1)) / 10⁴ is one
    *    exact HUGEINT expression cast to DOUBLE at the end (identical
    *    IEEE tree both engines — the q_correlation device);
    *  - the eigensolve's OUTPUT is verified against that exact matrix
    *    and emitted as booleans: ‖C·v_j − λ_j·v_j‖∞ ≤ 1e-6·(trace+1)
    *    with λ_j = ratio_j · trace (ratios are scale-free, so the n vs
    *    n−1 convention cancels), unit-norm and mutual orthogonality of
    *    the loadings, and ratio sanity (descending, within (0, 1],
    *    summing ≤ 1).
    *
    * The oracle derives the 10 covariance entries + trace and pins the
    * booleans to TRUE: a wrong covariance fails hash-exactly, a broken
    * eigensolve flips a boolean. The loading matrix itself stays pinned
    * by MlPipelineSpec via [[pca]]. Bounded driver collect: one 1-row
    * moment aggregate (the q_correlation class). */
  def pcaVerdict(s: SparkSession, d: String, k: Int = 2): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val nf = featureCols.length
    val wide = SensorEtl.wide(s, d)
    // exact integer-cents cells; DECIMAL(38,0) sums stay exact at any sf
    val cells = featureCols.zipWithIndex.map { case (f, i) =>
      (col(f).cast(DecimalType(18, 2)) * 100).cast(DecimalType(20, 0))
        .cast("long").as(s"x$i")
    }
    val cdf = wide.select(cells.toSeq: _*)
    val pairs = for { i <- 0 until nf; j <- i until nf } yield (i, j)
    val aggs = count(lit(1)).as("n") +:
      ((0 until nf).map(i =>
        sum(col(s"x$i").cast(DecimalType(38, 0))).as(s"s$i")) ++
        pairs.map { case (i, j) =>
          sum((col(s"x$i") * col(s"x$j")).cast(DecimalType(38, 0)))
            .as(s"s${i}_$j")
        })
    val m = cdf.agg(aggs.head, aggs.tail: _*).head()
    val n = m.getAs[Long]("n")
    def s1(i: Int) = BigInt(m.getAs[java.math.BigDecimal](s"s$i").toBigInteger)
    def s2(i: Int, j: Int) =
      BigInt(m.getAs[java.math.BigDecimal](s"s${i}_$j").toBigInteger)
    // identical expression tree to the oracle: CAST(num AS DOUBLE) /
    // CAST(n*(n-1) AS DOUBLE) / 10000.0
    def cov(i: Int, j: Int): Double =
      (BigInt(n) * s2(i, j) - s1(i) * s1(j)).toDouble /
        (n.toDouble * (n - 1).toDouble) / 10000.0
    val c = Array.tabulate(nf, nf)((i, j) => cov(math.min(i, j), math.max(i, j)))
    val trace = c(0)(0) + c(1)(1) + c(2)(2) + c(3)(3)

    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features")
    val model = new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pc").setK(k)
      .fit(assembler.transform(wide.select(featureCols.map(col).toSeq: _*)))
    val pcm = model.pc
    val ev = model.explainedVariance.toArray
    val vs = Array.tabulate(k)(j => Array.tabulate(nf)(i => pcm(i, j)))
    val tol = 1e-6 * (trace + 1.0)
    def residOk(j: Int): Boolean = {
      val lam = ev(j) * trace
      (0 until nf).forall { i =>
        math.abs((0 until nf).map(l => c(i)(l) * vs(j)(l)).sum
          - lam * vs(j)(i)) <= tol
      }
    }
    def unitOk(j: Int): Boolean =
      math.abs(vs(j).map(x => x * x).sum - 1.0) <= 1e-9
    val orthOk = (for { a <- 0 until k; b <- (a + 1) until k } yield
      math.abs((0 until nf).map(i => vs(a)(i) * vs(b)(i)).sum))
      .forall(_ <= 1e-9)
    val ratioOk = ev.forall(r => r > 0.0 && r <= 1.0) &&
      ev.zip(ev.tail).forall { case (a, b) => a >= b } && ev.sum <= 1.0 + 1e-9
    (0 until k).map { j =>
      (j, c(0)(0), c(0)(1), c(0)(2), c(0)(3), c(1)(1), c(1)(2), c(1)(3),
        c(2)(2), c(2)(3), c(3)(3), trace,
        residOk(j), unitOk(j), orthOk, ratioOk)
    }.toDF("component", "cov_click_click", "cov_click_error",
      "cov_click_purchase", "cov_click_view", "cov_error_error",
      "cov_error_purchase", "cov_error_view", "cov_purchase_purchase",
      "cov_purchase_view", "cov_view_view", "trace",
      "resid_ok", "unit_ok", "orth_ok", "ratio_ok")
  }

  /** M4 — SQLTransformer as a pipeline stage (cf. `sensor_data_train
    * .py:48-51`, whose SQL never ran due to a missing space; fixed here):
    * derives a ratio feature inside the pipeline. */
  def sqlTransformer(s: SparkSession, d: String): DataFrame = {
    val st = new SQLTransformer().setStatement(
      "SELECT user_id, day, click, error, purchase, view, " +
        "view / (click + 1.0) AS view_click_ratio FROM __THIS__")
    st.transform(SensorEtl.wide(s, d))
  }

  /** ML breadth — seeded k-means topic clustering over the embeddings
    * table: the unsupervised corpus-organization pass an LLM-data
    * pipeline runs for topic balance / mixture design (and the same
    * centroid machinery the IVF index builds on). Lloyd's iterations are
    * each ONE broadcast-centroids + map-side-assign + partial-agg pass
    * over the corpus — no shuffle wider than k×dim per iteration, the
    * textbook 100 TB-safe plan. Returns one row per cluster (size,
    * share) plus the model's training cost (within-cluster SSE) — a
    * balance report, not per-point assignments (corpus-sized output).
    * Seeded fit → deterministic across reruns in one JVM, but
    * JVM-specific init (no DuckDB oracle; KmeansTopicsSpec pins planted
    * -cluster recovery instead). */
  def kmeansTopics(s: SparkSession, d: String, k: Int = 8): DataFrame =
    kmeansTopicsVecs(s, graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding")), k)

  /** The ONE seeded-KMeans construction site [[kmeansTopicsVecs]] and
    * [[kmeansTopicsVerdict]] share — if the spec-pinned params (k-means||
    * seed 42, maxIter 10) ever change, the verdict gate and
    * KmeansTopicsSpec move together instead of silently validating
    * different models (ADVICE r14). */
  private def kmeansFit(vecs: DataFrame,
      k: Int): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val data = vecs.select(col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    new KMeans()
      .setK(k).setSeed(42L).setMaxIter(10).setFeaturesCol("features")
      .fit(data)
  }

  /** [[kmeansTopics]] over an arbitrary (vec_id, embedding float-array)
    * frame — the testable form. */
  def kmeansTopicsVecs(s: SparkSession, vecs: DataFrame, k: Int): DataFrame = {
    val model = kmeansFit(vecs, k)
    val cost = model.summary.trainingCost
    val n = vecs.count().toDouble
    model.summary.predictions
      .groupBy(col("prediction").as("cluster"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", round(col("n") / lit(n), 6))
      .withColumn("training_cost", round(lit(cost), 4))
  }

  /** [[kmeansTopics]] re-gated at its VERDICT POINT (r14, seeded-fit
    * family): cluster memberships are a seeded-JVM k-means|| init, but
    * the corpus frame is exact — the gate emits k, the exact embedding
    * count and dimensionality (DuckDB-derivable), plus contract booleans
    * over the fit: cluster sizes partition the corpus (sum = n), at most
    * k clusters emitted, the within-cluster SSE non-negative, and — the
    * substantive one — trainingCost ≤ the total sum of squares about the
    * GLOBAL mean (any clustering at least matches the 1-cluster solution;
    * a broken assign/update step fails it). totalSS is computed
    * distributed (posexplode → per-dim moments; one dims-sized reduce).
    * The balance report stays visible through [[kmeansTopics]] and
    * KmeansTopicsSpec (planted-cluster recovery). */
  def kmeansTopicsVerdict(s: SparkSession, d: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val vecs = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val model = kmeansFit(vecs, k)
    val cost = model.summary.trainingCost
    val sizes = model.summary.predictions
      .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))                // ≤ k rows
    val head = vecs.agg(count(lit(1)).as("n_vecs"),
      max(size(col("embedding"))).as("dims")).head()
    val nVecs = head.getAs[Long]("n_vecs")
    val dims = head.getAs[Int]("dims")
    // total SS about the global mean: sum ||x||^2 - n * ||mean||^2,
    // per-dim moments via posexplode (dims-sized aggregate)
    val mom = vecs.select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
      .collect()                                        // dims rows
    val totalSs = mom.map { r =>
      val sx = r.getAs[Double]("sx"); val sxx = r.getAs[Double]("sxx")
      sxx - sx * sx / nVecs
    }.sum
    Seq((k, nVecs, dims,
      sizes.sum == nVecs, sizes.length <= k, cost >= 0.0,
      cost <= totalSs * (1.0 + 1e-6) + 1e-6))
      .toDF("k", "n_vecs", "dims", "sizes_sum_ok", "n_clusters_le_k_ok",
        "cost_nonneg_ok", "cost_le_totalss_ok")
  }
}
