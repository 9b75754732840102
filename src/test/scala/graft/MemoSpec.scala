package graft

import org.apache.spark.sql.functions._

/** Contracts of the session-scoped fixpoint memo: build-once semantics,
  * sweep survival (the cross-query sharing it exists for), and explicit
  * release + rebuild via clear. */
class MemoSpec extends SparkTestBase {
  import spark.implicits._

  test("cached builds once, survives sweep, releases on clear") {
    var builds = 0
    def get() = Memo.cached(spark, "memo-spec-key") {
      builds += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    try {
      val first = get().collect().sortBy(_.getLong(0))
      assert(builds == 1)
      // sweep (the harness isolation pass) must NOT evict the memo
      Memo.sweep(spark)
      assert(Memo.ownedIds(spark).nonEmpty)
      val second = get().collect().sortBy(_.getLong(0))
      assert(builds == 1, "memo rebuilt despite sweep")
      assert(first.map(_.toString).toSeq == second.map(_.toString).toSeq)
      // clear releases blocks and forces a rebuild
      Memo.clear(spark)
      assert(Memo.ownedIds(spark).isEmpty)
      get().count()
      assert(builds == 2)
    } finally Memo.clear(spark)
  }

  test("buildSeconds counts a nested build once, inside its outer build") {
    // the inner build runs inside the outer build's wall time, so adding
    // both would count the inner pause twice
    try {
      val before = Memo.buildSeconds
      val t0 = System.nanoTime()
      Memo.cached(spark, "memo-spec-outer") {
        val n = Memo.cachedValue(spark, "memo-spec-inner") { Thread.sleep(300); 2L }
        Thread.sleep(300)
        spark.range(n).toDF("id")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val counted = Memo.buildSeconds - before
      assert(counted >= 0.6, s"the outer build was not counted: $counted s")
      assert(counted <= wall, s"counted $counted s of memo builds in a $wall s call")
    } finally Memo.clear(spark)
  }

  test("sweep still reclaims non-memo persistent RDDs") {
    val stray = Seq(1, 2, 3).toDF("x").cache()
    stray.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    Memo.sweep(spark)
    val keep = Memo.ownedIds(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet.forall(keep.contains),
      "sweep left a non-memo persistent RDD behind")
  }

  test("memoized gate family agrees with the unshared testable form") {
    val d = sf
    try {
      val viaMemo = etl.CorpusPipeline.corpusClean(spark, d)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      val fresh = etl.CorpusPipeline.corpusCleanDocs(Tables.documents(spark, d))
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(viaMemo == fresh)
      // second call returns the same materialized frame
      val again = etl.CorpusPipeline.corpusClean(spark, d)
        .orderBy("doc_id").collect().map(_.toString).toSeq
      assert(again == fresh)
    } finally Memo.clear(spark)
  }
}
