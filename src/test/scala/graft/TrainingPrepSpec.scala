package graft

import org.apache.spark.sql.functions._
import graft.etl.CorpusPipeline
import graft.functions.TextAnalytics
import graft.operators.{Dedup, Relational, TemporalJoins}

/** Round-9 training-prep operators: duplicate-span removal (the rewrite),
  * deterministic global training order, tokenize-to-ids, exact
  * changepoint detection, corpus↔embedding integrity audit. */
class TrainingPrepSpec extends SparkTestBase {
  import spark.implicits._

  test("span scrub drops the later copy of a duplicated tile and reassembles survivors") {
    // doc 1 opens with doc 0's first 8 tokens verbatim (one full tile),
    // then continues with its own text; doc 2 is untouched
    val tile = "a b c d e f g h"
    val docs = Seq(
      (0L, s"$tile i j k"),
      (1L, s"$tile x y z w q r s t"),
      (2L, "p q r s")).toDF("doc_id", "text")
    val got = Dedup.spanScrubDocs(docs, w = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tiles"), r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text"))))
      .toMap
    // doc 0: 2 tiles (8 + ragged 3), nothing dropped, text reassembled
    assert(got(0L) == ((2L, 0L, s"$tile i j k")))
    // doc 1: 2 tiles; the first (the copied tile) is dropped, its own
    // second tile survives
    assert(got(1L) == ((2L, 1L, "x y z w q r s t")))
    // doc 2: one ragged tile, kept
    assert(got(2L) == ((1L, 0L, "p q r s")))
  }

  test("span scrub is idempotent: scrubbing the cleaned corpus drops nothing") {
    val docs = Tables.documents(spark, sf)
    val once = Dedup.spanScrubDocs(docs)
      .select(col("doc_id"), col("clean_text").as("text"))
      .where(length(col("text")) > 0)
    val twice = Dedup.spanScrubDocs(once)
    assert(twice.agg(sum("n_dropped")).as[Long].head() == 0L)
  }

  test("train order is the (mix, doc_id)-sorted permutation, positions 1..n") {
    val got = Relational.trainOrder(spark, sf)
      .select("doc_id", "mix", "pos")
      .as[(Long, Long, Long)].collect()
    val n = got.length
    assert(got.map(_._3).sorted.toSeq == (1L to n).toSeq, "positions are a permutation")
    val byPos = got.sortBy(_._3).map(r => (r._2, r._1)).toSeq
    assert(byPos == byPos.sorted, "position order equals (mix, doc_id) order")
  }

  test("tokenize-ids round-trips in-vocab tokens and counts OOV") {
    val out = TextAnalytics.tokenizeIdsDocs(
      Tables.documents(spark, sf), vocabSize = 16)
    val rows = out.select("doc_id", "n_tokens", "n_oov", "ids").collect()
    // vocabulary reconstructed the same way the operator builds it
    val vocab = Tables.documents(spark, sf)
      .select(explode(TextAnalytics.tokens(col("text"))).as("term"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (t, c) => (-c, t) }.take(16).map(_._1)
    val idOf = vocab.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    rows.foreach { r =>
      val ids = r.getAs[scala.collection.Seq[Int]]("ids")
      val toks = texts(r.getAs[Long]("doc_id")).trim.toLowerCase.split("\\s+").toSeq
      assert(ids.length == toks.length && r.getAs[Long]("n_tokens") == toks.length)
      assert(ids == toks.map(t => idOf.getOrElse(t, 0)))
      assert(r.getAs[Long]("n_oov") == toks.count(t => !idOf.contains(t)))
    }
  }

  test("changepoint recovers a planted mean shift at the exact split") {
    // series: 30 readings at 10.00 then 20 at 50.00 — the max
    // |mean-left − mean-right| split is exactly k = 30
    val ev = (1 to 50).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        7L, "t", if (i <= 30) 10.0 else 50.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = Scratch.register(java.nio.file.Files.createTempDirectory("cp_").toString)
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = TemporalJoins.changepoint(spark, tmp).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("split_k") == 30L)
    assert(r.getAs[Double]("mean_left") == 10.0)
    assert(r.getAs[Double]("mean_right") == 50.0)
    assert(r.getAs[Double]("shift") == 40.0)
  }

  test("integrity audit statuses partition the id universe") {
    val rows = CorpusPipeline.integrityAudit(spark, sf).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap
    val nDocs = Tables.documents(spark, sf).count()
    val vecs = Tables.embeddings(spark, sf).select("vec_id").as[Long].collect()
    val nBacklog = vecs.count(_ % 9 == 0)   // synthesized missing embeddings
    val nOrphan = vecs.count(_ % 50 == 0)   // synthesized orphan vectors
    assert(rows("doc_only") == nBacklog)
    assert(rows("vec_only") == nOrphan)
    assert(rows("linked") == nDocs - nBacklog)
  }
}
