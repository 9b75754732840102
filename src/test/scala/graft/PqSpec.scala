package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{PqKernel, Similarity}

/** Product-quantization contracts (no DuckDB oracle — codebooks are
  * seeded JVM Lloyd fits): deterministic training/encoding, code
  * locality for near-identical vectors, reconstruction sanity, and
  * ADC-vs-exact recall on separable clusters. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  /** 3 well-separated direction clusters in 8 dims, 20 vectors each,
    * tiny within-cluster jitter. vec_ids 0..59; the 16 lowest ids (the
    * PQ seeds) cycle through the clusters so every cluster seeds
    * codewords. */
  private def clustered(): DataFrame = {
    def vec(axis: Int, jitter: Float): Array[Float] = {
      val v = new Array[Float](8)
      v(axis) = 1.0f
      v(7) = jitter
      v
    }
    (0L until 60L).map { i =>
      (i, vec((i % 3).toInt * 2, 0.001f * (i / 3)))
    }.toDF("vec_id", "embedding")
  }

  test("training and encoding are deterministic and codes stay in range") {
    val e = clustered()
    val b1 = Similarity.pqTrain(e, m = 4, k = 16, iters = 2)
    val b2 = Similarity.pqTrain(e, m = 4, k = 16, iters = 2)
    assert(b1.flatten.flatten.toSeq == b2.flatten.flatten.toSeq)
    val c1 = Similarity.pqEncode(e, b1)
      .as[(Long, Array[Int])].collect().sortBy(_._1)
    val c2 = Similarity.pqEncode(e, b2)
      .as[(Long, Array[Int])].collect().sortBy(_._1)
    assert(c1.map(_._2.toSeq).toSeq == c2.map(_._2.toSeq).toSeq)
    assert(c1.forall(_._2.forall(c => c >= 0 && c < 16)))
    assert(c1.forall(_._2.length == 4))
  }

  test("codes are local: cluster subspaces agree within a cluster, differ across") {
    val e = clustered()
    val books = Similarity.pqTrain(e, m = 4, k = 16, iters = 2)
    val codes = Similarity.pqEncode(e, books)
      .as[(Long, Array[Int])].collect().map(r => r._1 -> r._2.toSeq).toMap
    // the jitter lives in the LAST subspace; the first three subspaces
    // carry the cluster geometry and must agree within a cluster
    assert(codes(0L).take(3) == codes(3L).take(3))
    assert(codes(1L).take(3) == codes(4L).take(3))
    assert(codes(2L).take(3) == codes(5L).take(3))
    // different clusters put their axis in different subspaces
    assert(codes(0L).take(3) != codes(1L).take(3))
    assert(codes(1L).take(3) != codes(2L).take(3))
  }

  test("Lloyd iterations do not increase quantization error") {
    val e = clustered()
    def mse(iters: Int): Double = {
      val books = Similarity.pqTrain(e, m = 4, k = 16, iters = iters)
      val d = books(0)(0).length
      Similarity.pqEncode(e, books).as[(Long, Array[Int])]
        .collect().sortBy(_._1)
        .zip(e.orderBy("vec_id").as[(Long, Array[Float])].collect())
        .map { case ((_, cs), (_, emb)) =>
          cs.zipWithIndex.map { case (c, sub) =>
            val cw = books(sub)(c)
            (0 until d).map { i =>
              val df = emb(sub * d + i).toDouble - cw(i)
              df * df
            }.sum
          }.sum
        }.sum
    }
    assert(mse(3) <= mse(0) + 1e-12)
  }

  test("ADC top-k recovers the exact cosine neighbors on separable clusters") {
    // plant the clustered corpus as the embeddings table via a temp dir
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("graft_pq_").toString)
    clustered()
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val adc = Similarity.pqTopK(spark, dir, m = 4, k = 16, nQueries = 3, topK = 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    // every ADC neighbor of query q is from q's own cluster (axis = q%3):
    // cross-cluster dots are ~0, within-cluster ~1, and ADC preserves that
    assert(adc.nonEmpty)
    adc.foreach { case (q, v, _) =>
      assert(v % 3 == q % 3, s"query $q got cross-cluster neighbor $v")
    }
    // determinism across runs
    val again = Similarity.pqTopK(spark, dir, m = 4, k = 16, nQueries = 3, topK = 5)
      .select("q_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(adc.toSeq.sorted == again.toSeq.sorted)
  }

  test("IVF-PQ: results come from probed buckets, stay in-cluster, deterministic") {
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString)
    clustered()
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // 3 centroids = vecs 0,1,2 — one per cluster; nprobe=1 probes only
    // the query's own cluster bucket
    val out = Similarity.ivfPqTopK(spark, dir, nCentroids = 3, nprobe = 1,
        m = 4, k = 16, nQueries = 3, topK = 5)
      .select("q_id", "vec_id", "bucket", "rank")
      .as[(Long, Long, Long, Int)].collect()
    assert(out.nonEmpty)
    out.foreach { case (q, v, b, _) =>
      assert(v % 3 == q % 3, s"query $q got cross-cluster neighbor $v")
      assert(b == q, s"query $q scored a vector outside its probed bucket $b")
    }
    val again = Similarity.ivfPqTopK(spark, dir, nCentroids = 3, nprobe = 1,
        m = 4, k = 16, nQueries = 3, topK = 5)
      .select("q_id", "vec_id", "bucket", "rank")
      .as[(Long, Long, Long, Int)].collect()
    assert(out.toSeq.sorted == again.toSeq.sorted)
  }

  test("kernel: nearestL2 breaks ties to the lowest index") {
    val cws = Array(Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    assert(PqKernel.nearestL2(cws, Array(1.0f, 0.0f)) == 0)
    assert(PqKernel.nearestL2(cws, Array(0.0f, 1.0f)) == 2)
  }
}
