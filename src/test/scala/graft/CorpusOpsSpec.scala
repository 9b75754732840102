package graft

import org.apache.spark.sql.functions._

import graft.etl.CorpusPipeline
import graft.functions.TextAnalytics
import graft.operators.Dedup

/** Round-6 corpus operators: bloom decontamination (one-sided error
  * contracts), duplicated-span detection, top-k n-grams, and the
  * language-temperature sampling pass. */
class CorpusOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom decontamination has no false negatives and bounded false positives") {
    // eval: two benchmark docs; train: one verbatim copy (fully
    // contaminated), one half-overlap, and many fully clean docs with
    // disjoint vocabulary
    val eval = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta"),
      (1001L, "eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val clean = (1L to 40L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f w${i}g w${i}h"))
    val train = (Seq(
      (100L, "alpha beta gamma delta epsilon zeta"), // copy of eval 1000
      (101L, "alpha beta gamma delta unique trailer words here")) ++ clean)
      .toDF("doc_id", "text")

    val exact = Dedup.decontaminateDocs(train, eval)
      .select("doc_id", "n_sh", "n_hit", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    val bloom = Dedup.bloomDecontaminateDocs(train, eval)
      .select("doc_id", "n_sh", "n_hit", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap

    assert(exact.keySet == bloom.keySet)
    for ((id, (_, nSh, nHitExact, contExact)) <- exact) {
      val (_, nShB, nHitBloom, contBloom) = bloom(id)
      assert(nShB == nSh, s"doc $id shingle count drifted")
      // Bloom filters have NO false negatives: every exact hit is a hit
      assert(nHitBloom >= nHitExact, s"doc $id lost hits: $nHitBloom < $nHitExact")
      if (contExact) assert(contBloom, s"doc $id truly contaminated but not flagged")
    }
    // the verbatim copy is fully contaminated on both sides
    assert(exact(100L)._3 == exact(100L)._2 && bloom(100L)._4)
    // false-positive side: across all truly-clean shingles, spurious hits
    // stay well under 10× the 1% fpp target
    val cleanIds = clean.map(_._1).toSet
    val fpHits = bloom.collect { case (id, (_, _, h, _)) if cleanIds(id) => h }.sum
    val fpShingles = bloom.collect { case (id, (_, s, _, _)) if cleanIds(id) => s }.sum
    assert(fpHits.toDouble / fpShingles < 0.1,
      s"fp ratio ${fpHits.toDouble / fpShingles} too high")
    // and no clean doc crosses the τ=0.5 flag
    assert(cleanIds.forall(id => !bloom(id)._4))
  }

  test("dupSpans flags exact copies and within-doc repetition, not unique docs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // copy pair with doc 2
      (2L, "a b c d e f g h i j"),
      (3L, "p q r s t u v w x y"), // unique: zero dup windows
      (4L, "m m m m m m m m m m m m") // one window string repeated in-doc
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpansDocs(docs, w = 8, tau = 0.5)
      .select("doc_id", "n_windows", "n_dup", "flagged")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3L, 3L, true)))
    assert(out(2L) == ((2L, 3L, 3L, true)))
    assert(out(3L) == ((3L, 3L, 0L, false)))
    // doc 4: 5 positions, all the same 8-token window -> all duplicated
    assert(out(4L) == ((4L, 5L, 5L, true)))
  }

  test("topkNgrams ranks by frequency with a total tie-break") {
    val docs = Seq(
      (1L, "x y x y x y"), // "x y" ×3, "y x" ×2
      (2L, "x y b b b b") // "x y" ×1, "b b" ×3
    ).toDF("doc_id", "text")
    val out = TextAnalytics.topkNgramsDocs(docs, n = 2, k = 3)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1, "x y", 4L), (2, "b b", 3L), (3, "y x", 2L)))
  }

  test("topkNgrams with n wider than the shortest doc skips it instead of crashing") {
    // regression: the shared window helper's domain guard was hardcoded
    // >= 3, so n = 4 let a 3-token doc reach sequence(0, -1) (which steps
    // BACKWARD) and crash the slice with a negative offset
    val docs = Seq(
      (1L, "a b c"), // shorter than n -> must be excluded, not fatal
      (2L, "w x y z w x y z")
    ).toDF("doc_id", "text")
    val out = TextAnalytics.topkNgramsDocs(docs, n = 4, k = 10)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    assert(out.head == ((1, "w x y z", 2L)))
    assert(out.forall(g => g._2.split(" ").length == 4))
  }

  test("incremental triage classifies by precedence: corpus copy, batch repeat, near-copy, new") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // byte-copy of 1
      (11L, "brand new unseen words entirely fresh content here"),
      (12L, "brand new unseen words entirely fresh content here"), // repeat of 11
      (13L, "one two three four five six seven eight different tail"), // near-copy of 2
      (14L, "totally distinct vocabulary nothing shared anywhere else")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalStatusDocs(existing, incoming, n = 3, tau = 0.5)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(
      10L -> "exact_corpus",
      11L -> "kept",
      12L -> "exact_batch",
      13L -> "near_corpus",
      14L -> "kept"))
  }

  test("unigram log-prob matches the hand-computed corpus distribution") {
    val docs = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val outMap = TextAnalytics.unigramLogProbDocs(docs)
      .select("doc_id", "n_tokens", "avg_logprob")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // tokens: a ×3, b ×1, total 4
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(outMap(1L) == ((2L, r6(math.log(0.75)))))
    assert(outMap(2L) == ((2L, r6((math.log(0.75) + math.log(0.25)) / 2))))
    // the common-vocabulary doc scores higher than the rare-vocabulary one
    assert(outMap(1L)._2 > outMap(2L)._2)
  }

  test("quality prune drops exactly the low-score tail") {
    val out = TextAnalytics.qualityPrune(spark, sf, keepFrac = 0.8)
      .select("doc_id", "pctl").as[(Long, Double)].collect()
    val all = TextAnalytics.unigramLogProb(spark, sf)
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect()
    // kept count ≈ 80% (exact up to percent_rank tie granularity)
    assert(out.length <= all.length)
    assert(math.abs(out.length - 0.8 * all.length) <= 2)
    // every dropped doc scores <= every kept doc
    val kept = out.map(_._1).toSet
    val keptMin = all.filter(r => kept(r._1)).map(_._2).min
    val droppedMax = all.filterNot(r => kept(r._1)).map(_._2).max
    assert(droppedMax <= keptMin)
  }

  test("BPE merge candidates count adjacent char pairs with multiplicity") {
    // on a hand corpus: "aaab aaab ab" -> pairs: aa,aa,ab ×2 docs... use
    // the table-free oracle logic directly on a tiny planted table
    val dir = Scratch.register(java.nio.file.Files.createTempDirectory("graft_bpe_").toString)
    Seq((1L, "aaab ab", "en", "s", 7L), (2L, "ab", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalytics.bpeMergeCandidates(spark, dir, k = 5)
      .as[(Int, String, Long)].collect().toSeq.sortBy(_._1)
    // "aaab": aa, aa, ab; "ab": ab; "ab": ab -> ab ×3, aa ×2
    assert(out == Seq((1, "ab", 3L), (2, "aa", 2L)))
  }

  test("langSampleDocs is deterministic, keeps rate-1 languages whole, downsamples the head") {
    val rates = CorpusPipeline.langSample(spark, sf)
      .select("lang", "keep_rate", "n_docs")
      .as[(String, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // the synthetic corpus is en-heavy: en must be downsampled, at least
    // one low-resource language kept whole
    assert(rates("en")._1 < 1.0)
    assert(rates.exists { case (l, (r, _)) => l != "en" && r == 1.0 })

    val run1 = CorpusPipeline.langSampleDocs(spark, sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    val run2 = CorpusPipeline.langSampleDocs(spark, sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(run1 == run2, "sampling not deterministic")

    val keptByLang = run1.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    for ((lang, (rate, n)) <- rates) {
      if (rate == 1.0) assert(keptByLang.getOrElse(lang, 0L) == n, s"$lang lost docs at rate 1")
      else {
        val kept = keptByLang.getOrElse(lang, 0L)
        assert(kept > 0 && kept < n, s"$lang kept $kept of $n at rate $rate")
      }
    }
  }
}
