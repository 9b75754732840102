package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scale-up fixture generator: synthesize an sfN×`factor` dataset from an
  * existing sfN dir, for one-order-up bench runs (the driver testdata
  * stops at sf0.1; VERDICT r5 #8 / r6 #5 ask for an sf1 constants check
  * of the CC loop, banded minhash, PQ encode, and prefix sum).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <outDir> [factor=10]
  *
  * Construction (deterministic, keyed off the copy index k):
  * - events ×k: ids offset per copy; user_id offset too, so KEY
  *   CARDINALITY grows with volume (15 000 users at ×10) the way a real
  *   larger deployment's would — per-key group sizes stay constant,
  *   which is the honest scale-up for per-series windows/forecasts.
  *   ts is re-emitted as raw int64 NANOS (plain parquet INT64), the
  *   same physical shape Tables.events expects from the driver files.
  * - documents ×k: ids offset; for k>0 every third token gets a
  *   salt token appended that is derived from the COPY-UNIQUE new
  *   doc_id (hash(new_id, i)), which breaks ~all 3-token shingles
  *   across copies — cross-copy Jaccard collapses, so the near-dup
  *   pair graph scales like independently-drawn docs instead of
  *   exploding into |copies|²-per-group cliques. The salt must key on
  *   the NEW id, not the level-local copy index k: a k-keyed salt is
  *   only diversifying for ONE application — chained (sf1 → sf10) it
  *   regenerates identical texts (salt_j(base) arrives once via the
  *   carried level-1 copy and again via salt_j applied to the carried
  *   base) and reuses the same ~9·97 salt tokens at every level, so
  *   distinct shingles grew only 1.4× for 10× postings and the df-capped
  *   pair work grew 24× per 10× step (round-11 audit: 29.2 M pair
  *   postings at sf1 → 698 M at sf10) — the bench then measures a
  *   fixture artifact, not the operator.
  * - embeddings ×k: ids offset; for k>0 each component gets a hash-
  *   derived jitter in [-0.05, 0.05) — copies stay isotropic but are
  *   not byte-identical (identical vectors would stack every copy into
  *   one ANN bucket and measure a fixture artifact, not the operator).
  *   Like the document salt, the jitter keys on the COPY-UNIQUE new
  *   vec_id: keyed on (source id, level-local k) it is chaining-unsafe
  *   — jitter_j applied to the carried base reproduces the carried
  *   level-1 copy j BYTE-IDENTICALLY, planting duplicated vector
  *   groups (the hidden mass behind q_embed_neardup's noisy chained-
  *   fixture constants in earlier rounds).
  * - TPC-H dims (region..lineitem): copied as-is (only the broadcast
  *   join reads them; dims don't grow with fact volume).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()

    def copies(k: Int => org.apache.spark.sql.DataFrame) =
      (0 until factor).map(k).reduce(_ unionAll _)

    // The driver testdata ships each table as ONE FILE named
    // <table>.parquet (the streaming sources pathGlobFilter on exactly
    // that file name), so write single files, not directories.
    def writeSingle(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      // small row groups (1 MB vs the 128 MB default): a single-file
      // fixture with ONE row group can never scan in parallel (splits
      // align to row groups), which serializes every map-side stage —
      // the round-8 q_pack_greedy diagnosis found 2 s of single-task
      // regexp CPU behind an apparent 22× scaling. Real 100 TB tables
      // are thousands of splits; small row groups restore that shape.
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .option("parquet.block.size", (1024 * 1024).toString)
        .parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      val dst = new java.io.File(s"$out/$name")
      if (dst.exists()) { assert(dst.delete()) }
      java.nio.file.Files.move(part.toPath, dst.toPath)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete(): Unit
    }

    // Offset strides are derived from each table's ACTUAL max id, not a
    // fixed constant: a fixed stride is only collision-free for ONE
    // application. Chaining ScaleUp (sf10 → sf30) put source ids past
    // the old 10 M stride and silently produced duplicate ids (sf30:
    // 1.5 M doc rows, 510 k distinct doc_ids) — caught by the round-10
    // banded-vs-exact pair-set audit, which surfaced "a_id = b_id"
    // near-dup pairs that can only exist when two rows share an id.
    def stride(df: org.apache.spark.sql.DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head.getLong(0) + 1L

    val ev = Tables.events(spark, src)
    val evStride = stride(ev, "event_id")
    val userStride = stride(ev, "user_id")
    writeSingle(copies { k =>
      ev.select(
        (col("event_id") + lit(k.toLong * evStride)).as("event_id"),
        (unix_micros(col("ts")) * 1000L).as("ts"),
        (col("user_id") + lit(k.toLong * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events.parquet")

    val docs = Tables.documents(spark, src)
    val docStride = stride(docs, "doc_id")
    writeSingle(copies { k =>
      val text =
        if (k == 0) col("text")
        else expr(
          s"""array_join(transform(split(text, ' '),
             |  (t, i) -> CASE WHEN i % 3 = 2
             |    THEN concat(t, ' zs',
             |      CAST(pmod(hash(doc_id + ${k.toLong} * ${docStride}L, i), 1000000)
             |        AS STRING))
             |    ELSE t END), ' ')""".stripMargin)
      docs.select(
        (col("doc_id") + lit(k.toLong * docStride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents.parquet")

    val emb = Tables.embeddings(spark, src)
    val vecStride = stride(emb, "vec_id")
    writeSingle(copies { k =>
      val vec =
        if (k == 0) col("embedding")
        else expr(
          s"""transform(embedding,
             |  (x, i) -> CAST(x + (pmod(hash(vec_id + ${k.toLong} * ${vecStride}L, i),
             |    1000) - 500) / 10000.0 AS FLOAT))""".stripMargin)
      emb.select(
        (col("vec_id") + lit(k.toLong * vecStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }, "embeddings.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      writeSingle(spark.read.parquet(s"$src/$t.parquet"), s"$t.parquet")
    }
    println(s"[scaleup] wrote $out at factor $factor from $src")
    spark.stop()
  }
}
