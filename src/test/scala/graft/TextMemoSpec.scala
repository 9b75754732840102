package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalytics
import graft.operators.Dedup

/** r17 optimization round: the text family's shared count-table memos
  * (memoTermCounts / memoBigramCounts / memoUnigramScores) and the
  * dedup-span/fuzzy key compactions must be INVISIBLE in the results —
  * every rewired gate path must equal the direct (unmemoized,
  * string-keyed) build row-for-row, or the driver's DuckDB oracle parity
  * silently breaks. Each equality below pins one rewired path against
  * the *Docs form (which kept the original formulation) or a spec-local
  * re-implementation of the pre-r17 formulation. */
class TextMemoSpec extends SparkTestBase {

  // sorted SEQUENCES, not sets: a set compare would hide duplicate-row
  // multiplicity differences between the two paths (ADVICE r17 #4)
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def docs = Tables.documents(spark, sf)

  test("memoized unigramLogProb equals the direct unigramLogProbDocs build") {
    Memo.clear(spark)
    assert(rows(TextAnalytics.unigramLogProb(spark, sf)) ==
      rows(TextAnalytics.unigramLogProbDocs(docs)),
      "unigram score memo path diverged from the direct build")
  }

  test("memoized bigramLogProb (pair counts + derived prefix counts) equals the direct bigramLogProbDocs build") {
    Memo.clear(spark)
    assert(rows(TextAnalytics.bigramLogProb(spark, sf)) ==
      rows(TextAnalytics.bigramLogProbDocs(docs)),
      "bigram score memo path diverged from the direct build")
  }

  test("memoized collocationsPmi equals the direct collocationsPmiDocs build") {
    Memo.clear(spark)
    assert(rows(TextAnalytics.collocationsPmi(spark, sf)) ==
      rows(TextAnalytics.collocationsPmiDocs(docs)),
      "collocations memo path diverged from the direct build")
  }

  test("memoized heavyHitters equals the direct heavyHittersDocs build") {
    Memo.clear(spark)
    assert(rows(TextAnalytics.heavyHitters(spark, sf)) ==
      rows(TextAnalytics.heavyHittersDocs(docs)),
      "heavy-hitters memo path diverged from the direct build")
  }

  test("memoized tokenizeIds equals the direct tokenizeIdsDocs build") {
    Memo.clear(spark)
    val fmt = (df: DataFrame) => df.select(col("doc_id"), col("n_tokens"),
      col("n_oov"), array_join(transform(col("ids"),
        x => x.cast("string")), ",").as("ids_csv"))
    assert(rows(fmt(TextAnalytics.tokenizeIds(spark, sf))) ==
      rows(fmt(TextAnalytics.tokenizeIdsDocs(docs))),
      "tokenize-ids memo path diverged from the direct build")
  }

  test("memoized bm25 (dl from the unigram score memo) equals the direct bm25Docs build") {
    Memo.clear(spark)
    assert(rows(TextAnalytics.bm25(spark, sf)) ==
      rows(TextAnalytics.bm25Docs(docs, Seq("spark", "join", "filter"), 1.2, 0.75)),
      "bm25 memo path diverged from the direct build")
  }

  test("docTokenCounts (dedicated r18 doc-length memo) equals the direct groupBy(doc_id) pass AND the score table's n_tokens view") {
    Memo.clear(spark)
    val direct = docs
      .select(col("doc_id"),
        explode(TextAnalytics.tokens(col("text"))).as("term"))
      .groupBy("doc_id").agg(count(lit(1)).as("dl"))
    assert(rows(TextAnalytics.docTokenCounts(spark, sf)) == rows(direct),
      "doc-length memo diverged from the dedicated pass")
    // the pre-r18 source of dl — the unigram score table's n_tokens —
    // must carry the same integers (both count the unfiltered stream)
    val offScores = TextAnalytics.unigramLogProb(spark, sf)
      .select(col("doc_id"), col("n_tokens").as("dl"))
    assert(rows(TextAnalytics.docTokenCounts(spark, sf)) == rows(offScores),
      "doc-length memo diverged from the score table's n_tokens view")
  }

  test("memoized vocabGrowth (first_doc from the term-count memo) equals the direct first-occurrence build") {
    Memo.clear(spark)
    // spec-local pre-r17 formulation: per-gate groupBy(token).min(doc_id)
    val m = docs.agg(max("doc_id").as("mx"))
    def thr(k: Int) = expr(s"(mx + 1) * $k div 10")
    val tok = docs.select(col("doc_id"),
      explode(TextAnalytics.tokens(col("text"))).as("token"))
    val firsts = tok.groupBy("token").agg(min("doc_id").as("first_doc"))
    val direct = firsts.crossJoin(broadcast(m))
      .agg((1 to 10).map(k =>
        sum(when(col("first_doc") < thr(k), 1L).otherwise(0L)).as(s"v$k")).head,
        (2 to 10).map(k =>
          sum(when(col("first_doc") < thr(k), 1L).otherwise(0L)).as(s"v$k")): _*)
    val gate = TextAnalytics.vocabGrowth(spark, sf)
      .select("decile", "vocab").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val dr = direct.collect().head
    (1 to 10).foreach { k =>
      assert(gate(k) == dr.getLong(k - 1),
        s"vocab-growth decile $k diverged from the direct first-occurrence build")
    }
  }

  test("array-slice-hashed dupSpans equals the string-window formulation") {
    Memo.clear(spark)
    // spec-local pre-r17 formulation: hash the space-joined window STRING
    val w = 8
    val windows = docs
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(TextAnalytics.tokenWindows(col("toks"), w)).as("win"))
      .select(col("doc_id"), xxhash64(col("win")).as("win"))
    val counts = windows.groupBy("win").agg(count(lit(1)).as("c"))
    val direct = windows.join(counts, Seq("win"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") > 1L, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio", col("n_dup").cast("double") / col("n_windows"))
      .withColumn("flagged", col("dup_ratio") >= 0.5)
    assert(rows(Dedup.dupSpans(spark, sf)) == rows(direct),
      "array-slice-hashed dup-spans diverged from the string-window build")
  }

  test("hash-keyed spanScrub equals the string-keyed formulation") {
    Memo.clear(spark)
    val w = 8
    // spec-local pre-r17 formulation: first-occurrence keyed on tile TEXT
    val tiles = docs
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, (size(toks) + ${w - 1}) div $w - 1), " +
          s"i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))")))
      .withColumnRenamed("pos", "tile_idx")
      .withColumnRenamed("col", "tile")
    val firsts = tiles.groupBy("tile")
      .agg(min(struct(col("doc_id"), col("tile_idx"))).as("first"))
    val direct = tiles.join(firsts, Seq("tile"))
      .withColumn("keep", struct(col("doc_id"), col("tile_idx")) === col("first"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(array_sort(collect_list(when(col("keep"),
          struct(col("tile_idx"), col("tile"))))), x => x.getField("tile")),
          " ").as("clean_text"))
    assert(rows(Dedup.spanScrub(spark, sf)) == rows(direct),
      "hash-keyed span-scrub diverged from the string-keyed build")
  }

  test("fuzzyVocabJoin equals the spec-local string-variant formulation (the r17 hash-key experiment was reverted; both paths are string-keyed)") {
    Memo.clear(spark)
    // spec-local formulation of the same string-keyed deletion-
    // neighborhood join — pins the operator against an independent
    // re-derivation (the hashed-key variant measured 4-19x slower and
    // was reverted; see the operator's comment)
    def nbhd(c: org.apache.spark.sql.Column) =
      array_union(array(c), transform(sequence(lit(1), length(c)),
        i => concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), length(c)))))
    val vocab = docs
      .select(col("lang"), explode(TextAnalytics.tokens(col("text"))).as("token"))
      .where(length(col("token")) >= 4)
      .groupBy("lang", "token").agg(count(lit(1)).as("c_token"))
    val dirty = vocab.select(col("lang"),
        concat(substring(col("token"), 1, 2), substring(col("token"), 4, 1000000))
          .as("query_term"))
      .distinct()
    val direct = vocab.withColumn("variant", explode(nbhd(col("token"))))
      .join(dirty.withColumn("variant", explode(nbhd(col("query_term")))),
        Seq("lang", "variant"))
      .where(substring(col("token"), 1, 2) === substring(col("query_term"), 1, 2))
      .where(abs(length(col("token")) - length(col("query_term"))) <= 1
        && levenshtein(col("token"), col("query_term")) <= 1)
      .select(col("lang"), col("token"), col("query_term"),
        levenshtein(col("token"), col("query_term")).as("dist"), col("c_token"))
      .distinct()
    assert(rows(Dedup.fuzzyVocabJoin(spark, sf)) == rows(direct),
      "fuzzyVocabJoin diverged from the spec-local string-variant build")
  }
}
