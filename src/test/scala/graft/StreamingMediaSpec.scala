package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.multimodal.Media
import graft.streaming.EventStreams

/** Streaming extension + multimodal plumbing tests. */
class StreamingMediaSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming windowed means match the batch resample semantics") {
    // stage a small event file with the streaming schema (epoch-us ts)
    val dir = Scratch.register(Files.createTempDirectory("graft_stream_").toString)
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("user_id") < 5)
      .write.mode("overwrite").parquet(dir)

    val streamed = EventStreams.runWindowedOnce(spark, dir, "stream_means_test")
    val batch = spark.read.parquet(dir)
      .groupBy(col("user_id"), window(col("ts"), "30 minutes"))
      .agg(graft.operators.exactAvg(col("value")).as("avg_value"),
        count(lit(1)).as("n"), max("value").as("max_value"))
      .select(col("user_id"), col("window.start").as("bucket"),
        col("avg_value"), col("n"), col("max_value"))

    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val dir = Scratch.register(Files.createTempDirectory("graft_sdedup_").toString)
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "click", 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 7L, "click", 1.0), // dup id
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 7L, "view", 2.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(EventStreams.eventSchema).parquet(dir)
    val q = EventStreams.dedupStream(stream).writeStream
      .format("memory").queryName("graft_sdedup_test").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("graft_sdedup_test").select("event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L), s"got $ids")
  }

  test("session_window sessionization merges at exactly the gap, splits just over") {
    val dir = Scratch.register(Files.createTempDirectory("graft_swin_").toString)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: e2 is 1799.5 s after e1 (merge), e3 is EXACTLY 1800 s
      // after e2 (still merges — boundary touch), e4 is 1800.5 s after e3
      // (new session)
      (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:29:59.5"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 00:59:59.5"), 1L, "click", 4.0),
      (4L, ts("2024-01-01 01:30:00"), 1L, "click", 16.0),
      // user 2: one lone event
      (5L, ts("2024-01-01 12:00:00"), 2L, "view", 8.0))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(EventStreams.eventSchema).parquet(dir)
    val q = EventStreams.sessionWindows(stream).writeStream
      .format("memory").queryName("swin_test").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("swin_test")
      .orderBy("user_id", "s_start")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("value_sum")))
      .toSeq
    assert(out == Seq((1L, 3L, 7.0), (1L, 1L, 16.0), (2L, 1L, 8.0)), s"got $out")
  }

  test("sessionize state machine counts per-user events") {
    val dir = Scratch.register(Files.createTempDirectory("graft_sess_").toString)
    Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("user_id") < 3)
      .write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(EventStreams.eventSchema).parquet(dir)
      .as[EventStreams.Event]
    val q = EventStreams.sessionize(stream, withTimeout = false).writeStream
      .format("memory").queryName("sessions_test")
      .outputMode("update").start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sessions_test")
    val expected = spark.read.parquet(dir).groupBy("user_id").count()
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    val got = out.groupBy("user_id").agg(max("nEvents").as("n"))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    assert(got == expected)
  }

  test("append-mode windowed agg drops events older than the watermark") {
    val base = Scratch.register(Files.createTempDirectory("graft_late_").toString)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: events at 00:00:05 and 01:00:00 -> watermark becomes 00:50
    val b1 = Seq(
      (1L, ts("2024-01-01 00:00:05"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 01:00:00"), 1L, "click", 2.0))
    // batch 2: advance the watermark to 01:50; during this batch the
    // 00:00 window (end 00:30 < watermark 00:50) is emitted and evicted
    val b2 = Seq(
      (3L, ts("2024-01-01 02:00:00"), 1L, "click", 8.0))
    // batch 3: a LATE event for the already-emitted 00:00 window — must
    // be dropped (append mode can never revise an emitted row)
    val b3 = Seq(
      (4L, ts("2024-01-01 00:00:10"), 1L, "click", 4.0))
    val staged = s"$base/staged"
    new java.io.File(staged).mkdirs()
    val now = System.currentTimeMillis()
    for (((rows, i)) <- Seq(b1, b2, b3).zipWithIndex) {
      val tmp = s"$base/f$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/part-$i.parquet")
      Files.copy(src.toPath, dst.toPath)
      // mtime drives batch order; assert so a filesystem that silently
      // rejects the write fails setup loudly instead of going flaky
      assert(dst.setLastModified(now - 60000L + i * 30000L))
    }
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val q = EventStreams.windowedMeans(stream).writeStream
      .format("memory").queryName("late_test").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("late_test").orderBy("bucket").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("bucket").toString,
        r.getAs[Long]("n"), r.getAs[Double]("avg_value")))
      .toSeq
    // the 00:00 window finalized WITHOUT the late value-4 event (exactly
    // one emission, never revised); the 01:00 window finalized once the
    // watermark passed it; the 02:00 window never finalized (watermark
    // stopped at 01:50)
    assert(out == Seq(
      ("2024-01-01 00:00:00.0", 1L, 1.0),
      ("2024-01-01 01:00:00.0", 1L, 2.0)), s"got $out")
  }

  test("parquet file sink (production path) persists exactly the finalized windows") {
    // same staged 3-batch scenario as the late-data test, but draining to
    // the PRODUCTION sink: parquet files + checkpoint, append mode
    val base = Scratch.register(Files.createTempDirectory("graft_psink_").toString)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batches = Seq(
      Seq((1L, ts("2024-01-01 00:00:05"), 1L, "click", 1.0),
        (2L, ts("2024-01-01 01:00:00"), 1L, "click", 2.0)),
      Seq((3L, ts("2024-01-01 02:00:00"), 1L, "click", 8.0)),
      Seq((4L, ts("2024-01-01 00:00:10"), 1L, "click", 4.0))) // late, dropped
    val staged = s"$base/staged"
    new java.io.File(staged).mkdirs()
    val now = System.currentTimeMillis()
    for ((rows, i) <- batches.zipWithIndex) {
      val tmp = s"$base/f$i"
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$staged/part-$i.parquet")
      Files.copy(src.toPath, dst.toPath)
      assert(dst.setLastModified(now - 60000L + i * 30000L))
    }
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val q = EventStreams.windowedMeans(stream).writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(s"$base/out").orderBy("bucket").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("bucket").toString,
        r.getAs[Long]("n"), r.getAs[Double]("avg_value")))
      .toSeq
    assert(out == Seq(
      ("2024-01-01 00:00:00.0", 1L, 1.0),
      ("2024-01-01 01:00:00.0", 1L, 2.0)), s"got $out")
  }

  test("streaming Holt matches the batch fold across multiple micro-batches") {
    val base = Scratch.register(Files.createTempDirectory("graft_sholt_").toString)
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("user_id") === 1).orderBy("ts")
    // two files -> two micro-batches with maxFilesPerTrigger=1, proving
    // state carries across batches (file source lists in path order)
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    import spark.implicits._
    val schema = ev.schema
    spark.createDataFrame(spark.sparkContext.parallelize(first.toSeq), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/f0")
    spark.createDataFrame(spark.sparkContext.parallelize(second.toSeq), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$base/f1")
    val stagedDir = s"$base/staged"
    new java.io.File(stagedDir).mkdirs()
    val now = System.currentTimeMillis()
    for ((f, i) <- Seq("f0", "f1").zipWithIndex; p <- new java.io.File(s"$base/$f").listFiles()
         if p.getName.endsWith(".parquet")) {
      val dst = new java.io.File(s"$stagedDir/part-$i.parquet")
      Files.copy(p.toPath, dst.toPath)
      // FileStreamSource orders batches by mtime — make it explicit, and
      // assert so a rejected mtime write fails setup loudly
      assert(dst.setLastModified(now - 60000L + i * 30000L))
    }

    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(stagedDir)
      .as[EventStreams.Event]
    val q = EventStreams.streamingHolt(stream).writeStream
      .format("memory").queryName("sholt_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("sholt_test").orderBy("n").collect()
    assert(updates.length == 2, updates.mkString(","))

    // expectation: fold the same two batches through the shared helper
    val ys1 = first.sortBy(_.getAs[java.sql.Timestamp]("ts").getTime).map(_.getAs[Double]("value")).toSeq
    val ys2 = second.sortBy(_.getAs[java.sql.Timestamp]("ts").getTime).map(_.getAs[Double]("value")).toSeq
    val expected = EventStreams.holtAdvance(
      EventStreams.holtAdvance(None, ys1, 0.5, 0.3), ys2, 0.5, 0.3).get
    val last = updates.last
    assert(math.abs(last.getAs[Double]("level") - expected.level) < 1e-9)
    assert(math.abs(last.getAs[Double]("trend") - expected.trend) < 1e-9)
    assert(last.getAs[Long]("n") == expected.n)
  }

  test("media fixture is a true binary parquet column with formula lengths, stable across reads") {
    val path = Media.mediaFixturePath(spark, sf)
    val raw = spark.read.parquet(path)
    assert(raw.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType, raw.schema.treeString)
    val rows = Media.mediaTable(spark, sf).collect()
    rows.foreach { r =>
      assert(r.content.length == Media.payloadLen(r.media_id),
        s"media ${r.media_id}: ${r.content.length} != formula")
    }
    // genuinely opaque bytes: the payloads cover (nearly) the full byte
    // range, which no UTF-8 text re-encoding would
    val distinctBytes = rows.take(20).flatMap(_.content).map(_ & 0xFF).distinct.length
    assert(distinctBytes > 200, s"only $distinctBytes distinct byte values — not binary-like")
    // deterministic: a second table read returns identical payloads
    val again = Media.mediaTable(spark, sf).collect()
      .map(r => r.media_id -> r.content.toSeq).toMap
    rows.foreach(r => assert(again(r.media_id) == r.content.toSeq))
  }

  test("streamSink gate: parquet sink holds exactly the watermark-closed windows") {
    val out = EventStreams.streamSink(spark, sf)
    val ev = Tables.events(spark, sf)
    val cutoff = ev.agg(max("ts")).head().getTimestamp(0).getTime - 10 * 60 * 1000L
    val batch = ev
      .groupBy(col("user_id"), window(col("ts"), "30 minutes"))
      .agg(graft.operators.exactAvg(col("value")).as("avg_value"),
        count(lit(1)).as("n"), max("value").as("max_value"))
      .select(col("user_id"), col("window.start").as("bucket"),
        col("avg_value"), col("n"), col("max_value"))
      .where(col("bucket").cast("long") * 1000 + 30 * 60 * 1000 <= cutoff)
    assert(out.count() == batch.count(),
      s"sink rows ${out.count()} != closed-window rows ${batch.count()}")
    assert(out.except(batch).count() == 0)
  }

  test("media feature extraction preserves ids, byte stats, and feature shape") {
    val media = Media.mediaTable(spark, sf)
    val feats = Media.extractFeatures(media)
    assert(feats.count() == media.count())
    val row = feats.orderBy("media_id").head()
    assert(row.feature.length == 8)
    assert(row.n_bytes > 0 && row.byte_mean > 0.0 && row.byte_mean < 255.0)
    // deterministic stub: same input -> same feature
    val again = Media.extractFeatures(media).orderBy("media_id").head()
    assert(row.feature.toSeq == again.feature.toSeq)
  }

  test("resize bounds dims, preserves aspect ratio, shrinks payload by area") {
    val media = Media.mediaTable(spark, sf)
    val out = Media.resize(media, maxW = 64, maxH = 64).cache()
    assert(out.count() == media.count())
    val rows = out.collect()
    rows.foreach { r =>
      val (sw, sh) = (r.getAs[Int]("src_width"), r.getAs[Int]("src_height"))
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      assert(w <= 64 && h <= 64 && w >= 1 && h >= 1)
      // no upscaling; aspect preserved within rounding
      assert(w <= sw && h <= sh)
      if (sw > 64 || sh > 64) {
        val scale = math.min(64.0 / sw, 64.0 / sh)
        assert(w == math.max(1, math.round(sw * scale).toInt))
        assert(h == math.max(1, math.round(sh * scale).toInt))
      } else assert(w == sw && h == sh)
      val payload = r.getAs[Array[Byte]]("content")
      assert(payload.length >= 1 || sw == 0)
    }
    // downscaled rows carry fewer payload bytes than their source
    val shrunk = out.where(col("width") < col("src_width"))
    if (shrunk.count() > 0) {
      val srcBytes = media.selectExpr("media_id", "length(content) AS nb")
      val cmp = shrunk.selectExpr("media_id", "length(content) AS nb2")
        .join(srcBytes, "media_id")
      assert(cmp.where(col("nb2") > col("nb")).count() == 0)
    }
    out.unpersist()
  }

  test("frame sampling keeps every stride-th frame with metadata") {
    val media = Media.mediaTable(spark, sf).limit(5)
    val frames = Media.sampleFrames(media, frameBytes = 64, stride = 4)
    val idx = frames.select("frame_idx").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(idx.nonEmpty && idx.forall(_ % 4 == 0))
    assert(frames.where(col("frame_bytes") > 64).count() == 0)
  }

  test("streaming anomaly equals the batch operator across a forced two-batch split") {
    // full-table single-batch equality is the q_stream_anomaly oracle's
    // job; here force the state to CARRY across micro-batches: split one
    // user's history at a time boundary into two files, stream with
    // maxFilesPerTrigger=1, and require row-for-row equality with the
    // batch trailing-window operator on the same rows.
    val base = Scratch.register(Files.createTempDirectory("graft_sanom_").toString)
    val ev = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("user_id") < 8).orderBy("ts", "event_id")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    val stagedDir = s"$base/staged"
    new java.io.File(stagedDir).mkdirs()
    val now = System.currentTimeMillis()
    for (((part, i)) <- Seq(first, second).zipWithIndex) {
      val tmp = s"$base/f$i"
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      for (p <- new java.io.File(tmp).listFiles() if p.getName.endsWith(".parquet")) {
        val dst = new java.io.File(s"$stagedDir/part-$i.parquet")
        Files.copy(p.toPath, dst.toPath)
        assert(dst.setLastModified(now - 60000L + i * 30000L))
      }
    }
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(stagedDir)
      .as[EventStreams.Event]
    val q = EventStreams.streamingAnomaly(stream).toDF().writeStream
      .format("memory").queryName("sanom_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // two batches actually ran (state had to carry)
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)

    val streamed = spark.table("sanom_test")
      .select(col("event_id"), round(col("base_mean"), 6).as("base_mean"),
        round(col("z"), 6).as("z"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val batchSrc = spark.read.parquet(stagedDir)
    val batch = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-20, -1)
      val dec = col("value").cast(DecimalType(18, 2))
      batchSrc
        .select(col("event_id"),
          sum(dec).over(w).cast("double").as("s1"),
          sum(dec * dec).over(w).cast("double").as("s2"),
          count(lit(1)).over(w).as("n"), col("value"))
        .where(col("n") >= 10)
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("variance",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
        .where(col("variance") > 0)
        .withColumn("z", (col("value") - col("mean")) / sqrt(col("variance")))
        .where(abs(col("z")) >= 3.0)
        .select(col("event_id"), round(col("mean"), 6).as("base_mean"),
          round(col("z"), 6).as("z"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    assert(streamed.keySet == batch.keySet,
      s"only-stream=${streamed.keySet -- batch.keySet} only-batch=${batch.keySet -- streamed.keySet}")
    streamed.foreach { case (id, v) => assert(v == batch(id), s"event $id: $v vs ${batch(id)}") }
    assert(streamed.nonEmpty, "no anomalies crossed the split — fixture too small")
  }
}
