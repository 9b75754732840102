package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextAnalytics

/** Deduplication operators for LLM-data pipelines over `documents`
  * (brief north-star). Scale stance: NO all-pairs joins — exact dedup is a
  * hash groupBy; near-dup goes through an inverted shingle index (with a
  * document-frequency cap against hot-shingle skew) or MinHash-LSH
  * banding, both of which bucket before comparing. That is the only shape
  * that survives 100 TB (VERDICT.md: "an all-pairs cross-join on
  * embeddings/docs is the canonical 100 TB killer").
  */
object Dedup {

  /** Exact dedup: content hash + keep the lowest doc_id per hash. One
    * shuffle on the 256-bit hash; row_number over the hash partition is
    * bounded by duplicate-group size, never by data volume. */
  def exact(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("text_hash").orderBy("doc_id")
    Tables.documents(s, d)
      .withColumn("text_hash", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "text_hash", "lang", "n_chars")
  }

  /** Distinct n-token shingles per document: (doc_id, shingle) pairs.
    * Window generation is the shared [[TextAnalytics.tokenWindows]]
    * expression (single source — copies of it had diverging guards). */
  private def shingles(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalytics.tokenWindows(col("toks"), n))).as("sh"))
  }

  /** Near-dup by n-gram Jaccard over an inverted shingle index: explode
    * distinct shingles, drop shingles appearing in > maxDf docs (hot-key
    * guard — a stop-shingle shared by half the corpus would otherwise
    * create a quadratic join output), self-join on shingle, count shared
    * shingles per candidate pair, compute exact Jaccard, threshold.
    * Candidate generation cost is sum over shingles of df², bounded by
    * maxDf² per shingle — linear-ish in corpus size, not quadratic.
    *
    * The posting index and the per-doc denominators build through the
    * ngram-family memo ([[memoPostings]]/[[memoSizes]]) — the jaccard,
    * containment and banded gates (plus [[pairEdges]]' dedup family)
    * consume the IDENTICAL frames, and before the memo each rebuilt them
    * from raw documents per gate (39.1 s of the 306.1 s r16 sf1 suite —
    * VERDICT r16 "What's wrong" #1). */
  def ngramJaccard(s: SparkSession, d: String,
      threshold: Double = 0.12, maxDf: Long = 100L): DataFrame =
    if (threshold >= UnionTj) memoPairUnion(s, d, maxDf)
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "shared", "a_n", "b_n", "jaccard")
    else ngramJaccardFromPostings(memoPostings(s, d, maxDf), memoSizes(s, d),
      threshold)

  /** The union pair table's floor thresholds: the dir-level gate defaults.
    * Gate calls at-or-above these filter the memoized union; anything
    * looser rebuilds directly (correct for arbitrary arguments). */
  private val UnionTj = 0.12
  private val UnionTc = 0.5

  /** ONE posting self-join serving the whole suite (r17, the second half
    * of VERDICT r16 #1): the jaccard gate, the containment gate and the
    * dedup-cluster family's [[pairEdges]] each consumed their OWN
    * aggregation of the identical candidate-pair space — three
    * corpus-scale self-joins per suite over the same memoized postings.
    * This memo materializes the aggregated pair stats ONCE, thresholded
    * to the union of what any consumer keeps (jaccard ≥ 0.12 OR
    * containment ≥ 0.5 — output-sized, NOT the ~20 M-row unfiltered
    * pair space at sf1), carrying both scores; every consumer is then a
    * filter+project over the checkpoint. The 100 TB shape: a production
    * pipeline materializes the near-dup pair table once and derives the
    * dedup/quote/cluster products from it — this is that intermediate
    * table. Score expressions are identical to the per-gate forms, so
    * every oracle hash is unchanged. */
  private def memoPairUnion(s: SparkSession, d: String,
      maxDf: Long): DataFrame =
    graft.Memo.cached(s, s"ngram_pair_union:$d:$maxDf:j=$UnionTj:c=$UnionTc") {
      val sh = memoPostings(s, d, maxDf)
      val sizes = memoSizes(s, d)
      val pairs = sh.as("a")
        .join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")), Seq("a_id"))
        .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")), Seq("b_id"))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("a_n") + col("b_n") - col("shared")).cast("double"))
        .withColumn("containment",
          col("shared").cast("double") / least(col("a_n"), col("b_n")).cast("double"))
        .where(col("jaccard") >= UnionTj || col("containment") >= UnionTc)
    }

  /** The memoized df-capped posting list over the driver `documents`
    * table — ONE build per (session, dir, maxDf) shared by every consumer
    * (the three ngram gates and the dedup-cluster family's [[pairEdges]]);
    * the per-query `.cache()`s it replaces were swept between gates by
    * `Memo.sweep`, so nothing was ever reused. Same `Memo.cached`
    * discipline as arima_family/dedup_pairs: results are deterministic,
    * so every downstream oracle hash is unchanged. */
  private def memoPostings(s: SparkSession, d: String, maxDf: Long): DataFrame =
    graft.Memo.cached(s, s"ngram_postings:$d:$maxDf") {
      // derive from the shared hashed shingle stream (one tokenize+window
      // pass per session serves this and q_ngram_novelty)
      capPostings(memoShingleStream(s, d, 3), maxDf)
    }

  /** The memoized UNCAPPED hashed shingle stream (doc_id, xxhash64(sh))
    * over the driver documents — the single tokenize+window pass the
    * whole ngram family derives from (r17): [[memoPostings]] filters the
    * hot tail off it, and `TextAnalytics.ngramNovelty`'s first-occurrence
    * attribution reads it directly (novelty needs the UNcapped stream —
    * hot shingles still attribute to their first document). */
  private[graft] def memoShingleStream(s: SparkSession, d: String,
      n: Int): DataFrame =
    graft.Memo.cached(s, s"ngram_shingle_stream:$d:$n")(
      hashedShingles(Tables.documents(s, d), n))

  /** Memoized uncapped per-doc shingle counts (Jaccard denominators). */
  private def memoSizes(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"ngram_sizes:$d")(docSizes(Tables.documents(s, d)))

  /** Memoized minhash signatures (k lanes) over the driver `documents`
    * table — shared by [[ngramJaccardBanded]] and [[minhashBanded]]
    * (both default to k = 128, so one build serves both gates). */
  private def memoSigs(s: SparkSession, d: String, k: Int): DataFrame =
    graft.Memo.cached(s, s"minhash_sigs:$d:$k")(
      minhashSignatures(Tables.documents(s, d), k))

  /** Memoized per-doc capped shingle ARRAYS (the banded verify payload:
    * each doc's df-capped shingle hashes collected once, attached to
    * candidate pairs by two hash joins). Derived from [[memoPostings]]
    * so the grouping shuffle also runs once per (session, dir, maxDf). */
  private def memoDocShingleArrays(s: SparkSession, d: String,
      maxDf: Long): DataFrame =
    graft.Memo.cached(s, s"ngram_doc_shingle_arrays:$d:$maxDf")(
      memoPostings(s, d, maxDf)
        .groupBy("doc_id").agg(collect_list(col("sh")).as("shs")))

  /** [[ngramJaccard]] over an arbitrary documents DataFrame. The internal
    * posting-list cache is registered with [[Tables.events]]'s session and
    * released by the harness's clearCache(); callers composing multi-pass
    * pipelines (e.g. [[dedupClusters]]) should use [[rarePostings]] and
    * own the persistence lifecycle instead. */
  def ngramJaccardDocs(docs: DataFrame,
      threshold: Double = 0.12, maxDf: Long = 100L): DataFrame = {
    val sh = rarePostings(docs, maxDf).cache()
    ngramJaccardFromPostings(sh, docSizes(docs), threshold)
  }

  /** Narrow (doc_id, sh) posting list with hot shingles removed. Per-
    * shingle df must NOT be a window over sh: a hot shingle would pile
    * its whole posting list into one sorted partition. Instead compute df
    * with a partial-aggregating groupBy (skew-free), keep only the HOT
    * shingles (few by definition), and drop them with a broadcast
    * anti-join — the skew never reaches a sort or a join build side.
    * Shingles join as xxhash64 INT64 keys, not ~30-char strings: the
    * self-join shuffle carries 8 bytes per key and compares longs
    * (VERDICT r2 item 4). Jaccard math stays exact modulo 64-bit hash
    * collisions (~N²/2⁶⁵ — negligible at any realistic shingle count). */
  def rarePostings(docs: DataFrame, maxDf: Long): DataFrame =
    capPostings(hashedShingles(docs), maxDf)

  /** The uncapped (doc_id, xxhash64(shingle)) stream, one row per distinct
    * n-token shingle of a document — what postings and sizes derive from. */
  def hashedShingles(docs: DataFrame, n: Int = 3): DataFrame =
    shingles(docs, n).select(col("doc_id"), xxhash64(col("sh")).as("sh"))

  /** [[rarePostings]] over a prebuilt [[hashedShingles]] stream. */
  def capPostings(posting: DataFrame, maxDf: Long): DataFrame = {
    val hot = posting.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("sh")
    posting.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  /** Per-doc distinct-shingle counts (the Jaccard denominators) — counted
    * BEFORE the hot-shingle drop, matching the exact-Jaccard definition. */
  def docSizes(docs: DataFrame): DataFrame = postingSizes(hashedShingles(docs))

  /** [[docSizes]] over a prebuilt uncapped [[hashedShingles]] stream: the
    * stream has one row per distinct shingle, so the row count per doc is
    * the distinct-shingle count. */
  def postingSizes(posting: DataFrame): DataFrame =
    posting.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))

  /** The pair stage: self-join the NARROW posting list (16 bytes/row — the
    * shuffle ships two longs, and the denominators never ride along), count
    * shared shingles per pair, then attach per-doc sizes to the PAIRS
    * (bounded by candidate count, orders of magnitude below postings).
    * The earlier shape carried n_sh on every posting row via a full-data
    * window and let AQE broadcast the whole widened index into the
    * self-join build side — a driver-sized hash table of the corpus'
    * shingles, which is exactly the 100 TB anti-pattern this operator
    * exists to avoid. */
  def ngramJaccardFromPostings(sh: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")), Seq("b_id"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("a_n") + col("b_n") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "shared", "a_n", "b_n", "jaccard")
  }

  /** ASYMMETRIC n-gram containment pairs — the quote/subset detector
    * Jaccard misses: `shared / min(|A|, |B|)` is high whenever the
    * smaller document's shingles sit INSIDE the larger one (quotation,
    * boilerplate inclusion, doc-in-doc duplication), even when the size
    * mismatch keeps Jaccard below any sane threshold. Same df-capped
    * posting self-join as [[ngramJaccardDocs]] (identical candidate set
    * and scale shape — the denominators attach to PAIRS, never ride the
    * postings), so the only delta is the containment score and its cut.
    * Fully oracle-able via the shared NgramPairCtes block. */
  def ngramContainment(s: SparkSession, d: String,
      threshold: Double = 0.5, maxDf: Long = 100L): DataFrame =
    if (threshold >= UnionTc) memoPairUnion(s, d, maxDf)
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "shared", "a_n", "b_n", "containment")
    else ngramContainmentFromPostings(memoPostings(s, d, maxDf),
      memoSizes(s, d), threshold)

  /** [[ngramContainment]] over an arbitrary documents frame (same
    * session-owned posting cache discipline as [[ngramJaccardDocs]]). */
  def ngramContainmentDocs(docs: DataFrame,
      threshold: Double = 0.5, maxDf: Long = 100L): DataFrame = {
    val sh = rarePostings(docs, maxDf).cache()
    ngramContainmentFromPostings(sh, docSizes(docs), threshold)
  }

  /** The containment pair stage over prebuilt postings + denominators —
    * the [[ngramJaccardFromPostings]] twin with the asymmetric
    * min-denominator score. */
  def ngramContainmentFromPostings(sh: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame = {
    val pairs = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("a_n")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("b_n")), Seq("b_id"))
      .withColumn("containment",
        col("shared").cast("double") / least(col("a_n"), col("b_n")).cast("double"))
      .where(col("containment") >= threshold)
      .select("a_id", "b_id", "shared", "a_n", "b_n", "containment")
  }

  /** Train/eval decontamination: for every train document, the fraction
    * of its distinct n-gram shingles that appear ANYWHERE in the eval
    * (benchmark) corpus — the standard guard against test-set leakage in
    * a training-data pipeline. Scale shape: the eval shingle SET is
    * benchmark-sized (collapsed by distinct before the join, never the
    * eval corpus itself) and rides a broadcast; the train side streams
    * ONCE through a single hit-carrying left join + one partial-agg
    * groupBy on doc_id (r18 — was two train scans, two aggregations and
    * a per-doc outer join). Never all-pairs — containment is against the
    * union set, not per-eval-doc.
    *
    * @param n   shingle width (decontamination convention is wider than
    *            near-dup, e.g. 8-13 tokens; default 3 matches the testdata
    *            doc length)
    * @param tau containment ratio at/above which a doc is flagged
    * @return one row per train doc with ≥ n tokens: n_sh, n_hit,
    *         contamination ratio, contaminated flag (no filter — keep the
    *         full report; the caller drops flagged docs)
    */
  def decontaminateDocs(train: DataFrame, eval: DataFrame,
      n: Int = 3, tau: Double = 0.5, broadcastEval: Boolean = true): DataFrame = {
    // r18: ONE pass over the train shingles computes both n_sh and n_hit
    // — each shingle carries a hit indicator from a left join against the
    // broadcast DISTINCT eval set (distinct ⇒ the join never multiplies
    // rows, so sum(hit) = the old semi-join count), and a single groupBy
    // replaces the pre-r18 shape of two full train-shingle scans (the
    // semi-join branch AND the n_sh branch), their two aggregations and
    // the final per-doc outer join (guide §1.2 step 1 / §2.4). The
    // broadcast hint is the documented DEFAULT contract (the eval shingle
    // SET is benchmark-sized, never the eval corpus) — the same hint
    // [[bloomDecontaminateChecked]] already carries, because the distinct
    // aggregate's estimate otherwise falls back to a full SMJ of the
    // train stream. `broadcastEval = false` leaves the planner free for
    // callers whose probe set is corpus-sized ([[incrementalStatusDocs]]
    // probes the EXISTING CORPUS' shingle set — hinting that side onto
    // the driver would be the 100 TB OOM the guide's §3.1 cap warns
    // about).
    val evalSh0 = shingles(eval, n).select(xxhash64(col("sh")).as("sh")).distinct()
      .withColumn("hit", lit(1L))
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    shingles(train, n).select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .join(evalSh, Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("contamination") >= tau)
  }

  /** Gate query: eval set = every 20th doc_id (a deterministic 5%
    * "benchmark"), train = the rest; 3-token shingles, τ = 0.5. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    decontaminateDocs(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0))
  }

  /** Bloom-filter decontamination — the 100 TB shape of
    * [[decontaminateDocs]]: instead of broadcasting the exact distinct
    * eval-shingle set (fine while the benchmark suite is small, unbounded
    * if it is not), fold the eval shingles into a fixed-size Bloom filter
    * and probe it per train shingle. The filter size is set by
    * (items, fpp), NOT by shingle bytes, so the broadcast stays bounded no
    * matter how the eval corpus grows; the probe is a per-partition loop
    * over the broadcast bits (mapPartitions — per-partition init is the
    * point, same as the media decoders). One-sided error: a Bloom filter
    * has NO false negatives, so every truly contaminated doc is flagged
    * (the safety direction for decontamination); false positives inflate
    * the hit count by ≤ fpp in expectation — BloomDecontaminateSpec pins
    * both directions. No oracle: the filter's bit layout is
    * spark.util.sketch-specific (seeded 128-bit murmur), so no other
    * engine reproduces the FP side. */
  def bloomDecontaminateDocs(train: DataFrame, eval: DataFrame,
      n: Int = 3, tau: Double = 0.5, fpp: Double = 0.01): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // own + release: the eval shingle set is consumed twice (the sizing
    // count and the filter build) — cache for the pair of jobs, release
    // before the lazy train-side plan is assembled
    val evalSh = shingles(eval, n).select(xxhash64(col("sh")).as("sh")).distinct().cache()
    val bloom =
      try {
        val nEval = math.max(evalSh.count(), 1L)
        evalSh.stat.bloomFilter("sh", nEval, fpp)
      } finally evalSh.unpersist()
    val bc = s.sparkContext.broadcast(bloom)
    shingles(train, n).select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val b = bc.value
        it.map { case (id, h) => (id, if (b.mightContainLong(h)) 1L else 0L) }
      }
      .toDF("doc_id", "hit")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum("hit").as("n_hit"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_sh"))
      .withColumn("contaminated", col("contamination") >= tau)
  }

  /** Gate query form of [[bloomDecontaminateDocs]], same eval/train split
    * as [[decontaminate]]. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    bloomDecontaminateDocs(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0))
  }

  /** Oracle-able verdict form of [[bloomDecontaminate]] — the gate
    * query. The Bloom filter's bit layout is spark.util.sketch-specific
    * (no cross-engine oracle for the FP side), but its SAFETY contract
    * is engine-free: no false negatives, so the Bloom pass must flag a
    * SUPERSET of the exactly-contaminated documents. The gate emits the
    * exact-contaminated subset (doc_id, exact shingle counts — all
    * DuckDB-computable, the existing q_decontaminate derivation
    * restricted to contaminated = true) with the Bloom verdict beside
    * it, pinned to literal TRUE by the oracle: a filter that ever drops
    * a truly contaminated doc flips the boolean and the row hash. The
    * exact side is GATE EVIDENCE (a second scan production doesn't
    * run — production ships only the bounded-broadcast Bloom path);
    * BloomDecontaminateSpec still pins the fpp direction.
    *
    * Cost shape: ONE pass over the train shingles computes both sides —
    * each shingle carries its exact hit (left join against the distinct
    * eval set, the [[decontaminateDocs]] containment) AND its Bloom
    * probe bit (broadcast bitset, per-partition init), so one groupBy
    * yields n_sh / n_hit / n_bloom per doc. That is the same scan
    * volume as q_decontaminate alone (which scans the shingles twice —
    * the verdict gate is actually cheaper per output row), where the
    * naive compose-two-operators form paid three full shingle scans
    * plus a wide join of two heavy branches. The eval shingle hashes are
    * collected to the driver once (eval is benchmark-sized by contract):
    * the sorted distinct array is the exact side, probed by binary
    * search, and it builds the Bloom filter — broadcast together, so the
    * train side needs no join at all. */
  def bloomDecontaminateChecked(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 3; val tau = 0.5; val fpp = 0.01
    val docs = Tables.documents(s, d)
    val train = docs.where(col("doc_id") % 20 =!= 0)
    val eval = docs.where(col("doc_id") % 20 === 0)
    val evalHashes = shingles(eval, n).select(xxhash64(col("sh"))).as[Long]
      .collect().sorted.distinct
    val bc = s.sparkContext.broadcast((evalHashes, bloomOf(evalHashes, fpp)))
    shingles(train, n).select(col("doc_id"), xxhash64(col("sh")).as("sh"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val (exact, b) = bc.value
        it.map { case (id, h) =>
          (id, if (java.util.Arrays.binarySearch(exact, h) >= 0) 1L else 0L,
            if (b.mightContainLong(h)) 1L else 0L)
        }
      }
      .toDF("doc_id", "exact_hit", "bloom_hit")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), sum("exact_hit").as("n_hit"),
        sum("bloom_hit").as("n_bloom"))
      .withColumn("contamination", col("n_hit").cast("double") / col("n_sh"))
      .where(col("contamination") >= tau)
      .withColumn("bloom_flagged",
        col("n_bloom").cast("double") / col("n_sh") >= tau)
      .select("doc_id", "n_sh", "n_hit", "contamination", "bloom_flagged")
  }

  /** The Bloom filter over `distinctHashes` sized for (their count, fpp)
    * — the same filter `stat.bloomFilter` builds over them as a column. */
  private[graft] def bloomOf(distinctHashes: Array[Long],
      fpp: Double): org.apache.spark.util.sketch.BloomFilter = {
    val b = org.apache.spark.util.sketch.BloomFilter.create(
      math.max(distinctHashes.length.toLong, 1L), fpp)
    distinctHashes.foreach(b.putLong)
    b
  }

  /** Duplicated-span detection (the reporting half of exact substring
    * dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    * Models Better"): slide a w-token window over every document WITH
    * positions (multiplicity matters — a span repeated inside one doc is
    * boilerplate too), count each window string's corpus-wide occurrences,
    * and report per doc how many of its window positions carry a span
    * seen more than once anywhere. A high dup_ratio marks template/
    * boilerplate documents that whole-doc near-dup misses because their
    * UNIQUE remainder keeps Jaccard below threshold.
    *
    * Scale shape: windows shuffle as xxhash64 INT64 keys (8-byte rows,
    * same trick as [[rarePostings]]); the occurrence count is one
    * partial-aggregated groupBy, and since r18 there is NO join-back —
    * globally-unique windows (c == 1 ⇒ one position in one doc) are
    * attributed to their doc inside the same aggregate via min(doc_id),
    * and n_dup = n_windows − n_uniq; the per-doc rollups are partial
    * aggs joined doc-to-doc. Linear in total token count, never
    * all-pairs, no window function over unbounded partitions. */
  def dupSpansDocs(docs: DataFrame, w: Int = 8, tau: Double = 0.5): DataFrame = {
    val toks = TextAnalytics.tokens(col("text"))
    // materialized once (localCheckpoint): the extraction feeds BOTH the
    // occurrence-count groupBy and the join probe side — unmaterialized,
    // the tokenize+explode+hash pass (the heaviest stage) runs twice. At
    // 100 TB this would be a persist(DISK_ONLY) or an intermediate table;
    // blocks here are reclaimed by the harness sweep / session stop.
    // r17: hash the w-token ARRAY SLICE directly instead of building the
    // space-joined window string first and hashing that — xxhash64 over
    // array<string> is structural, and slice equality ⇔ joined-string
    // equality (tokens are \s+-split, so they carry no spaces), so the
    // per-doc counts are identical; what disappears is materializing
    // n_tokens × ~(8-token) window strings per document before hashing.
    val windows = docs
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - w),
          i => xxhash64(slice(col("toks"), i + 1, lit(w))))).as("win"))
      .localCheckpoint(true)
    // r18: no join-back. A window position is non-dup exactly when its
    // span is globally UNIQUE (c == 1), and a c == 1 group is by
    // definition ONE position in ONE document — so min(doc_id) on the
    // count aggregate attributes every unique position to its doc, and
    // n_dup = n_windows − n_uniq. The removed join shuffled every window
    // POSITION (no partial aggregation applies to a join probe side)
    // just to read its count; both remaining aggregates partially
    // aggregate map-side (guide §2.3/§2.4), so the wire carries at most
    // one row per distinct (win) resp. (doc_id) per map task.
    val uniqPerDoc = windows.groupBy("win")
      .agg(count(lit(1)).as("c"), min("doc_id").as("doc_id"))
      .where(col("c") === 1L)
      .groupBy("doc_id").agg(count(lit(1)).as("n_uniq"))
    windows.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(uniqPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        (col("n_windows") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
      .withColumn("dup_ratio", col("n_dup").cast("double") / col("n_windows"))
      .withColumn("flagged", col("dup_ratio") >= tau)
  }

  /** Gate query form of [[dupSpansDocs]] over the documents table. */
  def dupSpans(s: SparkSession, d: String): DataFrame =
    dupSpansDocs(Tables.documents(s, d))

  /** Duplicate-span REMOVAL (the rewrite [[dupSpansDocs]] only reports):
    * C4/Lee-et-al-style substring dedup that cuts every document into
    * consecutive non-overlapping `w`-token tiles, keeps only the corpus-
    * wide FIRST occurrence of each tile (first = min (doc_id, tile_idx)),
    * and reassembles the surviving tiles into cleaned text.
    *
    * Scale shape: the first-occurrence winner per tile is a
    * `groupBy(tile).agg(min(struct(doc_id, tile_idx)))` — a partially
    * aggregated hash agg, NOT a `row_number` window. A window would sort
    * every occurrence of a hot tile on one task; the min-struct partial
    * agg collapses a million-way duplicated boilerplate tile to one row
    * per map task before it ever shuffles. Since r18 there is no join
    * back at all: the winner struct carries its own tile text out of the
    * aggregate, so kept tiles are a projection of the agg and only a
    * doc-sized totals join remains. Grouping stays on `xxhash64(tile)`
    * (8 bytes instead of tile text on the wire, the [[rarePostings]] key
    * compaction; collision odds ~|tiles|²/2⁶⁵, the accepted
    * negligible-collision contract class — the DuckDB oracle needs no
    * hash because the EMITTED columns are the reassembled text and
    * counts, which match whenever tile equality matches). */
  def spanScrubDocs(docs: DataFrame, w: Int = 8): DataFrame = {
    // tiles materialized ONCE (r17): they feed both the first-occurrence
    // rollup and the per-doc totals count — unmaterialized, the tokenize+
    // posexplode pass (the heaviest stage) ran twice per call. The tile
    // TEXT rides the winner struct only (one text per distinct tile on
    // the wire); the totals side carries no text at all.
    val tiles = docs
      .select(col("doc_id"), TextAnalytics.tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, (size(toks) + ${w - 1}) div $w - 1), " +
          s"i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))")))
      .withColumnRenamed("pos", "tile_idx")
      .withColumnRenamed("col", "tile")
      .withColumn("tile_h", xxhash64(col("tile")))
      .localCheckpoint(true)
    // r18: the winning row carries its OWN tile text through the
    // min-struct aggregate — (doc_id, tile_idx) is unique per row, so
    // appending tile as the struct's LAST field can never change which
    // row wins, and the kept-tile set becomes a direct projection of the
    // aggregate. What disappears is the join-back that shuffled the FULL
    // tile mass (text payload, no partial aggregation on a probe side)
    // by tile_h just to mark one winner per group (guide §2.3 "shuffle
    // keys and metadata instead of payloads", §2.4): the aggregate's
    // partial merge collapses a million-way boilerplate tile to one
    // (hash, winner) row per map task, and only WINNERS (≤ one text per
    // distinct tile) reach the per-doc reassembly rollup. n_tiles rides
    // a separate text-free per-doc count; n_dropped = n_tiles − n_kept.
    val kept = tiles
      .groupBy("tile_h")
      .agg(min(struct(col("doc_id"), col("tile_idx"), col("tile"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.tile_idx").as("tile_idx"), col("first.tile").as("tile"))
    val keptPerDoc = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("tile_idx"), col("tile")))),
            x => x.getField("tile")),
          " ").as("clean_text"))
    tiles.groupBy("doc_id").agg(count(lit(1)).as("n_tiles"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tiles"),
        (col("n_tiles") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Gate query form of [[spanScrubDocs]] over the documents table. */
  def spanScrub(s: SparkSession, d: String): DataFrame =
    spanScrubDocs(Tables.documents(s, d))

  /** Incremental-ingest dedup triage — the daily-crawl shape: classify
    * each INCOMING document against the existing corpus and its own batch
    * without ever re-deduplicating the corpus. Statuses, by precedence:
    *
    *  - `exact_corpus`: byte-identical to an existing doc (hash semi-join
    *    against the corpus' content-hash set — at 100 TB that set is the
    *    stored dedup index, key-only, never the corpus text);
    *  - `exact_batch`: duplicate within the batch (row_number per hash,
    *    lowest doc_id survives);
    *  - `near_corpus`: shingle containment vs the corpus ≥ τ (the
    *    [[decontaminateDocs]] probe with the corpus as the "eval" side);
    *  - `kept`: new content.
    *
    * Every stage is keyed on hashes or aggregated shingles: batch-sized
    * work joined against index-sized sets — the whole point of
    * incremental ingestion is that nothing rescans the corpus text. */
  def incrementalStatusDocs(existing: DataFrame, incoming: DataFrame,
      n: Int = 3, tau: Double = 0.5): DataFrame = {
    val exHash = existing.select(sha2(col("text"), 256).as("h")).distinct()
    val wH = Window.partitionBy("h").orderBy("doc_id")
    val marked = incoming
      .withColumn("h", sha2(col("text"), 256))
      .join(exHash.withColumn("in_corpus", lit(true)), Seq("h"), "left")
      .withColumn("rn", row_number().over(wH))
    val cont = decontaminateDocs(incoming, existing, n, tau,
        broadcastEval = false) // the probe set here is the CORPUS index
      .select(col("doc_id"), col("contamination"))
    marked.join(cont, Seq("doc_id"), "left")
      .withColumn("contamination", coalesce(col("contamination"), lit(0.0)))
      .withColumn("status",
        when(col("in_corpus"), "exact_corpus")
          .when(col("rn") > 1, "exact_batch")
          .when(col("contamination") >= tau, "near_corpus")
          .otherwise("kept"))
      .select("doc_id", "status", "contamination")
  }

  /** Gate query: existing corpus = doc_id % 10 < 8, incoming batch = the
    * rest (a deterministic 20% "daily increment") PLUS synthesized exact
    * copies — the raw testdata contains no byte-identical pair, so the
    * exact_corpus / exact_batch arms would otherwise never run: every
    * doc_id % 100 == 1 corpus doc re-arrives as id+100000 (exact_corpus)
    * and every % 100 == 98 batch doc is repeated as id+200000
    * (exact_batch). Shingle width 8 per the decontamination convention
    * (3-token shingles collide on the testdata's ~40-word vocabulary and
    * flag most of the batch; 8-token containment only fires on true
    * near-copies). */
  def incrementalStatus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val existing = docs.where(col("doc_id") % 10 < 8)
    val batch = docs.where(col("doc_id") % 10 >= 8)
    val fromCorpus = existing.where(col("doc_id") % 100 === 1)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val fromBatch = batch.where(col("doc_id") % 100 === 98)
      .withColumn("doc_id", col("doc_id") + 200000L)
    incrementalStatusDocs(existing,
      batch.unionByName(fromCorpus).unionByName(fromBatch), n = 8)
  }

  /** Near-dup via MinHash-LSH banding (spark.ml): shingle sets → sparse
    * binary vectors (HashingTF) → MinHashLSH → approxSimilarityJoin, which
    * OR-combines hash-table buckets and only compares within buckets —
    * the scale path when even the inverted index is too wide. */
  def minhashLsh(s: SparkSession, d: String, maxJaccardDist: Double = 0.4): DataFrame =
    minhashLshDocs(Tables.documents(s, d), maxJaccardDist)

  /** [[minhashLsh]] over an arbitrary documents DataFrame (doc_id, text) —
    * the testable form. */
  def minhashLshDocs(docs: DataFrame, maxJaccardDist: Double = 0.4): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
    val sets = shingles(docs)
      .groupBy("doc_id").agg(collect_list("sh").as("sh_set"))
    val tf = new HashingTF().setInputCol("sh_set").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    // own + release (VERDICT r5 #3): the vector cache feeds both sides of
    // the similarity self-join; the (small) pair result is materialized
    // eagerly so the cache never escapes into a lazy plan without an
    // unpersist handle
    val vecs = tf.transform(sets).select("doc_id", "features").cache()
    try {
      val lsh = new MinHashLSH().setInputCol("features").setOutputCol("bands")
        .setNumHashTables(5).setSeed(42L)
      val model = lsh.fit(vecs)
      model.approxSimilarityJoin(vecs, vecs, maxJaccardDist, "jaccard_dist")
        .select(col("datasetA.doc_id").as("a_id"), col("datasetB.doc_id").as("b_id"),
          col("jaccard_dist"))
        .where(col("a_id") < col("b_id"))
        .localCheckpoint(true)
    } finally vecs.unpersist()
  }

  /** k-wide minhash signature per document, computed in ONE narrow pass:
    * tokenize, hash each distinct 3-token shingle once, fold min over k
    * mixed variants. The per-doc loop is the native `minhash_sig`
    * Catalyst expression (`MinHashKernel`, StaticInvoke-style codegen) —
    * no shuffle, no explode, and no Dataset ser/de boundary: the whole
    * signature stage is a map-only Tungsten scan of `documents`.
    * Tokenization mirrors [[graft.functions.TextAnalytics.tokens]]
    * (trim → lower → \s+ split); docs with < 3 tokens yield an empty
    * signature and are filtered, matching the earlier typed-map skip. */
  def minhashSignatures(docs: DataFrame, k: Int = 128): DataFrame = {
    import org.apache.spark.sql.graft.MinHashExpressions.minhashSig
    docs.select(col("doc_id"), minhashSig(col("text"), k).as("sig"))
      .where(size(col("sig")) > 0)
  }

  /** Near-dup via native banded minhash — the scale path that replaced the
    * spark.ml `approxSimilarityJoin` form (64-120 s at sf0.1; this is
    * seconds). b bands × r rows (k = b·r): docs colliding on any band's
    * r-minhash key become candidates (P[collide] = 1-(1-s^r)^b — with
    * 32×4 the S-curve centers at s ≈ (1/32)^(1/4) ≈ 0.42), then the pair's
    * FULL signatures estimate Jaccard as matching-fraction and the τ
    * filter keeps real near-dups. Candidate generation is a bucketed
    * equi-join on (band_idx, band_key) — never all-pairs; the signature
    * join-back is two hash joins on doc_id. A corpus-scale caveat: a
    * cluster of m mutual near-identical docs makes an m²-pair bucket —
    * run [[exact]] dedup FIRST so identical docs never reach this stage;
    * pathological buckets are capped at `maxBucket` members (see
    * [[bandCandidatesFromSigs]] — the df-cap twin, added after the sf10
    * measurement showed the uncapped background-collision term going
    * quadratic). */
  def minhashBandedDocs(docs: DataFrame, k: Int = 128, bands: Int = 32,
      minJaccard: Double = 0.6, maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    // NOT cached: the signature expression is a cheap codegen'd scan, and
    // a cache() here would pin the full signature set in the shared JVM
    // with no handle for the caller to release (the documented cache-leak
    // hazard). At 100 TB a caller composing several passes would persist
    // the signatures explicitly and own their lifecycle.
    minhashBandedFromSigs(minhashSignatures(docs, k), k, bands, minJaccard,
      maxBucket)
  }

  /** [[minhashBandedDocs]] over prebuilt signatures (the memo-fed core —
    * the dir-based gate shares one k = 128 signature build with
    * [[ngramJaccardBanded]]). */
  private[graft] def minhashBandedFromSigs(sigs: DataFrame, k: Int,
      bands: Int, minJaccard: Double, maxBucket: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    val r = k / bands
    val cand = bandCandidatesFromSigs(sigs, bands, r, maxBucket)
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
      .as[(Long, Long, Array[Long], Array[Long])]
      .map { case (a, b, sa, sb) =>
        var m = 0
        var j = 0
        while (j < sa.length) { if (sa(j) == sb(j)) m += 1; j += 1 }
        (a, b, m.toDouble / sa.length)
      }
      .toDF("a_id", "b_id", "est_jaccard")
      .where(col("est_jaccard") >= minJaccard)
  }

  /** The LSH band-bucket candidate stage shared by [[minhashBandedDocs]]
    * and [[ngramJaccardBanded]]: signature rows → `bands` band keys each
    * (mix-folded r-row slices), grouped into band buckets, within-bucket
    * pair enumeration — never all-pairs.
    *
    * HOT-BUCKET CAP (`maxBucket`, the LSH twin of the posting index's df
    * cap): background-similarity collisions put ~pairs·j^r candidates in
    * each band, so with a growing corpus the candidate set has a term
    * QUADRATIC in corpus size concentrated in oversized buckets keyed by
    * degenerate band values (tiny shingle sets, shared boilerplate
    * prefixes). Measured at sf10 (500 k docs) the uncapped stage made the
    * banded variant 9× SLOWER than the exact posting self-join it exists
    * to escape (948 s vs 107 s — SCALE.md round-9). A bucket with more
    * than `maxBucket` members contributes O(bucket²) background pairs and
    * almost no signal, while a true near-dup pair at j ≥ 0.2 collides in
    * ≈ b·j^r ≈ 2.6 independent bands in expectation — dropping its hot
    * buckets leaves it discoverable in the rest (recall floors re-measured
    * in NgramBandedSpec under the cap). Work is bounded by
    * Σ min(bucket, maxBucket)² per band — linear in the corpus, the same
    * bound shape as [[rarePostings]]. The bucket build is ONE shuffle
    * (collect_list under the cap contract) and pairs explode bucket-local,
    * replacing the former bandRows self-join. */
  /** (doc_id, band_idx, band_key) rows — the banded-LSH bucket keys
    * [[bandCandidatesFromSigs]] groups. */
  private def bandRows(sigs: DataFrame, bands: Int, r: Int): DataFrame = {
    val s = sigs.sparkSession
    import s.implicits._
    sigs.as[(Long, Array[Long])]
      .mapPartitions { it =>
        it.flatMap { case (id, sig) =>
          (0 until bands).iterator.map { b =>
            var h = org.apache.spark.sql.graft.MinHashKernel.mix64(0xBADC0DEL + b.toLong)
            var j = b * r
            while (j < (b + 1) * r) {
              h = org.apache.spark.sql.graft.MinHashKernel.mix64(h ^ sig(j)); j += 1
            }
            (id, b, h)
          }
        }
      }.toDF("doc_id", "band_idx", "band_key")
  }

  private[graft] def bandCandidatesFromSigs(sigs: DataFrame, bands: Int, r: Int,
      maxBucket: Int = 64): DataFrame = {
    bandRows(sigs, bands, r)
      .groupBy("band_idx", "band_key")
      .agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)),
          |    y -> struct(least(x, y) AS a_id, greatest(x, y) AS b_id))))"""
          .stripMargin)).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
  }

  /** Banded-minhash PREFILTERED exact n-gram Jaccard — the scale-path
    * variant of [[ngramJaccardDocs]] (VERDICT r7 #6's alternative): LSH
    * band buckets (b=64, r=2 → S-curve midpoint (1/64)^(1/2) ≈ 0.125)
    * generate the candidate pairs, and EXACT Jaccard is then computed
    * only for candidates by joining them back to the capped posting
    * list — so the posting self-join (the Σ min(df,cap)² term)
    * disappears entirely, replaced by candidates × doc-shingles join
    * rows.
    *
    * The DEFAULT threshold is 0.2, deliberately ABOVE the band
    * midpoint: P(candidate | j) = 1 − (1 − j²)^64 ≈ 0.93 at j = 0.2 and
    * ≥ 0.998 at j ≥ 0.3, so the shipped defaults sit on the steep side
    * of the S-curve — recall floor ≥ 0.9 overall and ≥ 0.95 at
    * j ≥ 0.3, asserted against the exact operator in NgramBandedSpec.
    * Thresholds down in the 0.12–0.2 band remain accepted arguments but
    * are the curve's lossy zone (≈ 0.60 at 0.12) — use the exact
    * [[ngramJaccardDocs]] there. Widening the bands instead (r = 1,
    * b = 128) would make the 0.12 edge near-lossless in theory but
    * admits any pair sharing ONE minhash: at background overlap j ≈
    * 0.01 that is 1 − 0.99^128 ≈ 72 % of ALL pairs — the prefilter
    * collapses to all-pairs, so it is not offered as a default.
    * Output schema matches [[ngramJaccardFromPostings]] (jaccard is the
    * exact value, not the signature estimate). The gate row SHARES the
    * exact operator's DuckDB oracle at τ = 0.2 (the batch-twin device):
    * candidates depend on JVM minhash, but every fixture true pair sits
    * at j ≥ 0.9 where the band-miss probability is (1 − j²)^64 ≈ 1e-46,
    * so the verified output equals the exact join's — NgramBandedSpec
    * pins the agreement, the oracle hash-checks it.
    *
    * `maxBucket` caps band buckets (see [[bandCandidatesFromSigs]]):
    * without it the background-collision candidate term grows with
    * pairs·j², which the sf10 run measured at 9× the EXACT variant's
    * cost — the cap restores the linear bound that justifies this
    * variant's existence.
    *
    * REGIME GUIDANCE (from the sf30 three-point curve, SCALE.md
    * round 10): at permissive thresholds (τ ≤ 0.2) against a corpus
    * dense enough that the df-cap bites, the prefilter's economics
    * invert — the 128-wide signature scan plus the r = 2 background
    * candidate mass cost MORE than the capped exact join it avoids
    * (404 s vs 163 s at 1.5 M docs; outputs identical to 25 k pairs).
    * The banded form's regime is HIGH-τ dedup (τ ≥ 0.6 with r = 4,
    * the [[minhashBandedDocs]] shape), where the S-curve prunes hard;
    * for τ ≤ 0.2 prefer [[ngramJaccardDocs]] — its df-capped posting
    * join is already linear and was sublinear measured (1.5× per 3×
    * step). */
  def ngramJaccardBanded(s: SparkSession, d: String,
      threshold: Double = 0.2, maxDf: Long = 100L): DataFrame =
    ngramJaccardBandedFrom(memoSigs(s, d, 128),
      memoDocShingleArrays(s, d, maxDf), memoSizes(s, d), threshold)

  def ngramJaccardBandedDocs(docs: DataFrame,
      threshold: Double = 0.2, maxDf: Long = 100L,
      k: Int = 128, bands: Int = 64, maxBucket: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    ngramJaccardBandedFrom(minhashSignatures(docs, k),
      rarePostings(docs, maxDf)
        .groupBy("doc_id").agg(collect_list(col("sh")).as("shs")),
      docSizes(docs), threshold, bands, k / bands, maxBucket)
  }

  /** The banded verify stage over prebuilt signatures, per-doc capped
    * shingle arrays, and denominators (the memo-fed core of
    * [[ngramJaccardBanded]]).
    *
    * Verify by ARRAY INTERSECTION, not by re-exploding the posting
    * index: the former explode→(b_id, sh) join→regroup verify fanned
    * every candidate out to each of its capped shingles (~4.5 M
    * candidates × ~29 shingles ≈ 130 M join rows TWICE at sf10), and
    * measured as ~330 s of the operator's 437 s there. Attaching each
    * side's capped shingle ARRAY (bounded per doc by the df cap — the
    * packing family's bounded-group collect contract) costs two hash
    * joins of candidate-count rows, and `size(array_intersect)` is a
    * per-row codegen'd expression — no explode, no regroup shuffle.
    * `shared` counts the same capped shingle set as the posting
    * self-join form, so the jaccard values stay bitwise equal to
    * [[ngramJaccardFromPostings]] (NgramBandedSpec asserts it).
    *
    * SIZE-BOUND PREFILTER (r17, VERDICT r16 "What's wrong" #2): the
    * pair+array shuffle is this engine's heaviest payload (the sf200
    * end-to-end wall spilled >59 GB of scratch on the r16 box). Before
    * any array attaches, candidates join only the THIN per-doc counts
    * (n_sh and the capped array length) and drop every pair whose
    * maximum ACHIEVABLE jaccard — shared is at most
    * min(|capped_a|, |capped_b|), and j(shared) is increasing in
    * shared — already falls below the threshold:
    * min(c_a, c_b) / (a_n + b_n − min(c_a, c_b)) < τ − 1e-9. The 1e-9
    * slack makes the prune strictly conservative under double rounding,
    * so the OUTPUT IS IDENTICAL (every surviving-pair computation is
    * unchanged) and all oracles hold byte-for-byte; only pairs that
    * could never pass stop paying the array shuffle. On fixtures where
    * hot shingles saturate the df cap (the measured sf200 regime —
    * dropped-mass exponent ≈ 1.1 in SCALE.md), capped lengths sit far
    * below n_sh and the prune bites hardest exactly where the payload
    * was largest. */
  private[graft] def ngramJaccardBandedFrom(sigs: DataFrame,
      docShingles: DataFrame, sizes: DataFrame, threshold: Double,
      bands: Int = 64, r: Int = 2, maxBucket: Int = 64): DataFrame = {
    val cand = bandCandidatesFromSigs(sigs, bands, r, maxBucket)
    // thin per-doc metadata: uncapped denominator + capped array length
    val meta = sizes.join(
      docShingles.select(col("doc_id"),
        size(col("shs")).cast("long").as("c_n")), Seq("doc_id"))
    cand
      .join(meta.select(col("doc_id").as("a_id"), col("n_sh").as("a_n"),
        col("c_n").as("a_c")), Seq("a_id"))
      .join(meta.select(col("doc_id").as("b_id"), col("n_sh").as("b_n"),
        col("c_n").as("b_c")), Seq("b_id"))
      .where(least(col("a_c"), col("b_c")).cast("double") /
        (col("a_n") + col("b_n") - least(col("a_c"), col("b_c"))).cast("double")
        >= lit(threshold - 1e-9))
      .select("a_id", "b_id", "a_n", "b_n")
      .join(docShingles.select(col("doc_id").as("a_id"), col("shs").as("a_shs")), Seq("a_id"))
      .join(docShingles.select(col("doc_id").as("b_id"), col("shs").as("b_shs")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), col("a_n"), col("b_n"),
        size(array_intersect(col("a_shs"), col("b_shs"))).cast("long").as("shared"))
      .where(col("shared") > 0)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("a_n") + col("b_n") - col("shared")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "shared", "a_n", "b_n", "jaccard")
  }

  /** [[minhashBandedDocs]] over the driver `documents` table — rides the
    * memoized k = 128 signature build shared with [[ngramJaccardBanded]]. */
  def minhashBanded(s: SparkSession, d: String): DataFrame =
    minhashBandedFromSigs(memoSigs(s, d, 128), 128, bands = 32,
      minJaccard = 0.6, maxBucket = 64)

  /** Embedding-cosine near-dup: candidate pairs come from shared IVF
    * centroid buckets (never all-pairs), verified by exact cosine ≥ τ.
    * Same-bucket blocking trades recall for linearity exactly like the
    * text-side LSH. Scale shape (VERDICT r2 item 5): the centroid count
    * auto-scales to ≈√corpus (nCentroids = 0), so expected bucket size is
    * ≈√corpus and the within-bucket pair space grows LINEARLY with the
    * corpus; any bucket still exceeding maxBucket is re-split by nearest
    * sub-centroid (`Similarity.splitOversized`), bounding the expected
    * per-(bucket, sub) pair-task size (split semantics + recall contract
    * pinned by SimilaritySplitSpec). At 100 TB the assigned corpus is
    * written partitioned-by-(bucket, sub) so each pair task is bounded.
    * Near-identical vectors land in the same bucket by construction
    * (their centroid similarities are near-identical).
    *
    * τ defaults to DATA-DERIVED (tau = NaN): min(0.95, p99 + tauMargin)
    * where p99 is the quantile of cosines over the deterministic
    * id-successor pair sample (each vector × its vec_id+1 neighbor — id
    * adjacency is uncorrelated with embedding space, so these are
    * background-similarity draws). A fixed 0.95 means "near-identical"
    * on one corpus and "everything" on another; the background quantile
    * adapts to whatever the embedding model's typical unrelated-pair
    * similarity is, and the margin (default 0.05) lifts the threshold
    * CLEAR of the background distribution: by construction ~1% of
    * unrelated within-bucket pairs exceed the raw p99, so at
    * `tauMargin = 0` a corpus with NO true near-duplicates still emits
    * "near-dup" pairs. Margin-0 is therefore a CALIBRATION/DIAGNOSTIC
    * mode (the oracle gate rows use it precisely because it emits rows
    * on the synthetic corpus) — `keep = false` derived from a margin-0 τ
    * is NOT a safe deletion signal. The quantile rides in as a broadcast
    * 1-row aggregate (lazy — no collect at plan-build), is rounded to
    * 4 dp after the cap+margin (the cosines fold left-to-right in double
    * on both engines, so the oracle reproduces it bit-exactly), and is
    * emitted as a `tau` column so the derivation is visible in the gate
    * row. At 100 TB the successor sample is corpus-sized: cap it with
    * `tauSampleMod` (keep every k-th pair — still deterministic). */
  def embeddingNearDup(s: SparkSession, d: String,
      tau: Double = Double.NaN, nCentroids: Int = 0, maxBucket: Int = 100000,
      tauMargin: Double = 0.05): DataFrame =
    // session memo (r17): q_embed_clusters re-ran this whole pair build
    // ([[embedDedupClusters]] starts from exactly this call) — the pair
    // graph is the materialize-once intermediate both gates read. Vecs
    // already checkpoints eagerly; the memo only pins ownership so the
    // harness sweep keeps it across the two gates.
    graft.Memo.cached(s,
        s"embed_neardup:$d:$tau:$nCentroids:$maxBucket:$tauMargin")(
      embeddingNearDupVecs(Tables.embeddings(s, d), tau, nCentroids, maxBucket,
        tauMargin = tauMargin))

  /** [[embeddingNearDup]] over an arbitrary (vec_id, embedding) frame —
    * the testable form. The bucketed corpus is cached for the pair
    * self-join's two scans and RELEASED before returning: the pair result
    * is materialized eagerly (localCheckpoint, blocks reclaimed by the
    * harness sweep / session stop), so no cache escapes into a lazy plan
    * with no unpersist handle (VERDICT r5 #3 hazard class). */
  def embeddingNearDupVecs(emb: DataFrame,
      tau: Double = Double.NaN, nCentroids: Int = 0, maxBucket: Int = 100000,
      tauQuantile: Double = 0.99, tauSampleMod: Long = 1L,
      tauMargin: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.floatDot
    val e = emb.withColumn("nrm", sqrt(floatDot(col("embedding"), col("embedding"))))
    val tauDf =
      if (!tau.isNaN) e.sparkSession.range(1).select(lit(tau).as("tau_v"))
      else e.as("a")
        .join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .where(pmod(col("a.vec_id"), lit(tauSampleMod)) === 0)
        .select((floatDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm"))).as("cos"))
        // cap+margin BEFORE the 4-dp round; +tauMargin and least() are
        // exact double ops, so the margin-0 gate rows stay bit-equal to
        // the DuckDB oracle's identical expression
        .agg(round(least(lit(0.95),
          expr(s"percentile(cos, $tauQuantile)") + lit(tauMargin)), 4).as("tau_v"))
    val nc = if (nCentroids > 0) nCentroids else Similarity.centroidCount(e.count())
    val assigned = Similarity.splitOversized(
      Similarity.assignToNearestCentroid(e, nc), maxBucket).cache()
    try {
      assigned.as("a")
        .join(assigned.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.sub") === col("b.sub")
            && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          floatDot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
        .crossJoin(broadcast(tauDf))
        .where(col("cos") >= col("tau_v"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          col("a.bucket").as("bucket"), round(col("cos"), 4).as("sim"),
          col("tau_v").as("tau"))
        .localCheckpoint(true)
    } finally assigned.unpersist()
  }

  /** Embedding near-dup CLUSTERS — the transitive-closure step the text
    * dedup family has ([[dedupClusters]]), applied to the
    * [[embeddingNearDup]] pair graph: connected components by min-label
    * propagation, canonical = min vec_id per component, `keep` flags the
    * canonicals. Same scale shape as the text side: per-round
    * co-partitioned join + partial agg, rounds = component diameter
    * (near-dup components are near-cliques). Fully oracle-able — the
    * pair graph is deterministic SQL (see q_embed_neardup) and the
    * closure is a recursive CTE. `tauMargin` follows
    * [[embeddingNearDup]]'s contract: the 0.05 default keeps τ clear of
    * the background-cosine distribution; the margin-0 calibration mode
    * (used by the gate row so the synthetic corpus yields edges) flags
    * ~1% of unrelated pairs by construction, so its `keep = false` is a
    * diagnostic, not a safe deletion signal. */
  def embedDedupClusters(s: SparkSession, d: String,
      tauMargin: Double = 0.05): DataFrame = {
    val pairs = embeddingNearDup(s, d, tauMargin = tauMargin).select("a_id", "b_id")
    val nodes = Tables.embeddings(s, d).select(col("vec_id").as("id"))
    connectedComponents(pairs, nodes)
      .select(col("id").as("vec_id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("keep"))
  }

  /** 64-bit SimHash per document from token hashes (sign-aggregated bit
    * votes), plus a 4×16-bit band decomposition as readout columns
    * (the near-dup KEYING itself uses [[bandedHammingPairs]]'
    * 3-of-6-block combos). Pure expression pipeline: per-token 64-bit
    * hash (xxhash64), per-bit ±1 votes in a tight typed map. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = TextAnalytics.tokens(col("text"))
    // Per-token 64-bit hashes come from the codegen'd xxhash64 expression;
    // the 64-bit vote fold runs as a typed map (tight JVM loop) — nested
    // higher-order aggregate() expressions are CodegenFallback/interpreted
    // and were ~50× slower here.
    Tables.documents(s, d)
      .select(col("doc_id"), transform(array_distinct(toks), t => xxhash64(t)).as("th"))
      .as[(Long, Array[Long])]
      .map { case (id, th) =>
        val votes = new Array[Int](64)
        var i = 0
        while (i < th.length) {
          val h = th(i); var b = 0
          while (b < 64) { if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
          i += 1
        }
        var sig = 0L; var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        (id, sig)
      }
      .toDF("doc_id", "simhash")
      .select(col("doc_id"), col("simhash"),
        col("simhash").bitwiseAND(lit(0xFFFFL)).as("band0"),
        shiftrightunsigned(col("simhash"), 16).bitwiseAND(lit(0xFFFFL)).as("band1"),
        shiftrightunsigned(col("simhash"), 32).bitwiseAND(lit(0xFFFFL)).as("band2"),
        shiftrightunsigned(col("simhash"), 48).bitwiseAND(lit(0xFFFFL)).as("band3"))
  }

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: every node starts labeled with itself; each
    * round, every node takes the minimum label among itself and its
    * neighbors; at the fixpoint each component carries its minimum node id.
    *
    * This is the step near-dup PAIRS need to become DEDUP: transitive
    * closure groups a,b and b,c into one cluster so one canonical doc
    * survives per group.
    *
    * Scale shape: each round is one shuffled equi-join (edges ⋈ labels on
    * the node key) plus one partial-aggregated groupBy(min) — both linear
    * in |E|; rounds needed = component diameter, and near-dup components
    * are near-cliques (diameter 2-3). `localCheckpoint` after every round
    * truncates the lineage so the plan doesn't grow with iterations.
    * Convergence = no label changed between rounds: each id's previous
    * label rides through the round's own groupBy(min) as a second
    * aggregate, and `isEmpty` over the round's checkpoint short-circuits
    * on the first changed row — no second join against the old labels.
    * Type-generic, so node ids can be strings or any orderable type,
    * unlike a numeric label-sum probe. The node universe
    * is nodes ∪ edge endpoints, so a caller passing a partial node list
    * cannot silently violate the propagation invariant. For graphs with
    * continent-sized components (not dedup), switch to the log-round
    * large-star/small-star variant; same API.
    *
    * @param edges first two columns = endpoints of an undirected edge
    * @param nodes single-column node ids to label even when isolated
    *              (edge endpoints are included automatically)
    * @return (id, comp) — comp = min node id of the component
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 64): DataFrame = {
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
    val noLabel = lit(null).cast(labels.schema("comp").dataType)
    while (!converged && iter < maxIter) {
      // a node's own row carries its previous label as `old`; propagated
      // rows carry none, so min(old) is exactly the previous label
      val prop = sym.join(labels, sym("__src") === labels("id"))
        .select(col("__dst").as("id"), col("comp"), noLabel.as("old"))
      val next = labels.select(col("id"), col("comp"), col("comp").as("old"))
        .unionAll(prop)
        .groupBy("id").agg(min("comp").as("comp"), min("old").as("old"))
        .localCheckpoint(true)
      converged = next.where(!(col("comp") <=> col("old"))).isEmpty
      labels = next.select("id", "comp")
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Connected components in O(log n) rounds by alternating large-star /
    * small-star contractions (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the variant [[connectedComponents]]'
    * scaladoc defers to for graphs with CONTINENT-SIZED components, where
    * min-label propagation needs diameter-many rounds:
    *
    *  - large-star: every node's larger neighbors re-attach to the
    *    minimum of its neighborhood (one groupBy(min) + one equi-join);
    *  - small-star: every node and its smaller neighbors re-attach to
    *    the minimum smaller neighbor (same shape on the canonical
    *    larger→smaller edge list).
    *
    * Both steps are |E|-linear partial-agg + equi-join rounds (no
    * neighborhood collect_list — a hot node's neighbor set never
    * materializes in one task), edges stay canonical (src > dst), and the
    * fixpoint is the star graph rooted at each component's minimum. Same
    * API and output as [[connectedComponents]]; property-tested equal to
    * it on path/clique/mixed/string-id graphs (TextDedupSpec). */
  def connectedComponentsLogRounds(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 32): DataFrame = {
    val ec = edges.columns
    var e = edges
      .select(col(ec(0)).as("src"), col(ec(1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint(true)
    var converged = e.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetric view: emit (v, m(u)) for v > u
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val minsL = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val afterLarge = sym.join(minsL, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      // small-star on the canonical list: u and its smaller neighbors
      // all re-attach to the minimum smaller neighbor
      val minsS = afterLarge.groupBy("src").agg(min("dst").as("m"))
      val next = afterLarge.join(minsS, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(minsS.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct().localCheckpoint(true)
      // fixpoint: same size and next ⊆ e (both sides distinct) ⇒ equal
      converged = next.count() == e.count() &&
        next.join(e, Seq("src", "dst"), "left_anti").isEmpty
      e = next
      iter += 1
    }
    require(converged, s"connectedComponentsLogRounds did not converge in $maxIter rounds")
    // fixpoint edges are (node, root); add roots and isolated nodes
    val labelled = e.select(col("src").as("id"), col("dst").as("comp"))
      .unionAll(e.select(col("dst").as("id"), col("dst").as("comp")).distinct())
      .distinct()
    val isolated = nodes.select(col(nodes.columns.head).as("id"))
      .distinct()
      .join(labelled.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    labelled.unionAll(isolated)
  }

  /** Gate query: [[dedupClusters]] computed through the log-round
    * large-star/small-star components instead of min-label propagation —
    * same pair graph, same output contract, same DuckDB recursive-CTE
    * oracle (the two variants must agree exactly). Memoized like its
    * sibling; the pair graph itself comes from the shared [[pairEdges]]
    * memo, so the posting self-join builds once for both variants. */
  def dedupClustersLogRounds(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"dedup_clusters_ls:$d") {
      connectedComponentsLogRounds(pairEdges(s, d),
        Tables.documents(s, d).select("doc_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster"),
          (col("id") === col("comp")).as("keep"))
    }

  /** Gate query: near-dup clusters = connected components over the
    * [[ngramJaccard]] pair graph, every document labeled with its cluster
    * id (min doc_id of its component) and whether it is the canonical
    * (kept) representative. Oracled against a DuckDB recursive CTE
    * computing the same transitive closure (`q_dedup_clusters`).
    *
    * NOTE: unlike the lazy gate queries, this EXECUTES the pair graph and
    * the label-propagation loop at call time (the iterative fixpoint
    * cannot be expressed as one lazy plan). The shingle posting cache is
    * owned here and released as soon as the pair edges are materialized —
    * repeated calls in a shared session leave no cached blocks behind.
    *
    * The materialized labels are memoized per (session, dir) via
    * [[graft.Memo]]: [[dedupClean]] is a view over the same fixpoint, and
    * without sharing the family re-runs it from scratch (VERDICT r5 #1) —
    * the memo is the single-JVM analog of the intermediate table a real
    * pipeline would write. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"dedup_clusters:$d") {
      connectedComponents(pairEdges(s, d), Tables.documents(s, d).select("doc_id"))
        .select(col("id").as("doc_id"), col("comp").as("cluster"),
          (col("id") === col("comp")).as("keep"))
    }

  /** PageRank over the near-dup pair graph — graph centrality as a
    * canonical-document signal: within a duplicate cluster, the doc
    * near-dup-linked to the most (and most-linked) others is the natural
    * representative, a principled alternative to [[dedupClusters]]'
    * min-id keep rule. Consumes the same memoized [[pairEdges]] fixpoint
    * as both CC variants, so the posting self-join never re-runs. */
  def docPagerank(s: SparkSession, d: String, iters: Int = 5,
      damping: Double = 0.85): DataFrame =
    pagerank(pairEdges(s, d), Tables.documents(s, d).select("doc_id"),
      iters, damping)
      .select(col("id").as("doc_id"), col("rank"), col("deg"))

  /** Fixed-point scale for [[pagerank]]: ranks are carried as integer
    * units of 10⁻¹⁵ (max total mass 10¹⁵ < 2⁵³, so the final units →
    * double conversion is exact). */
  private val PrScale = 1000000000000000L

  /** Iterative PageRank on an UNDIRECTED edge list (first two columns =
    * endpoints; symmetrized internally), nodes from `nodes`' first
    * column. rank_{t+1}(v) = (1−d)/N + d·Σ_{u→v} rank_t(u)/deg(u) — the
    * simplified formulation without dangling-mass redistribution
    * (isolated nodes hold the (1−d)/N floor; evaporated mass only
    * rescales, never reorders — the centrality ORDER is what the dedup
    * use-case consumes; PagerankSpec pins closed-form star/cycle/path
    * fixtures). Each iteration is one edge join (per-source
    * contributions, computed node-side, against the symmetrized edge
    * list) + one partial-aggregated groupBy on the destination — the
    * standard distributed PageRank shuffle shape; at 100 TB the edge
    * list would be pre-bucketed by src so the per-round join is
    * exchange-free on the big side. The fixed-iteration loop builds ONE
    * lazy plan (depth ∝ iters — callers wanting 100s of rounds should
    * checkpoint per round like [[connectedComponents]], whose round
    * count is data-dependent): within that plan the edge list's shuffle
    * is planned once and reused every round (ReuseExchange), where the
    * r17 eager-per-round form re-shuffled it each iteration because the
    * round-boundary checkpoints erase partitioning metadata. Degrees and
    * the symmetric edges build once and checkpoint.
    *
    * Ranks are FIXED-POINT: integer units of 1/[[PrScale]], with every
    * per-iteration step (u div deg contributions, an integer SUM, the
    * ·d damping as ·num div 100) in exact long arithmetic — so the
    * result is independent of aggregation order (a double Σ rank/deg is
    * not: float addition doesn't associate, and partial-agg merge order
    * is nondeterministic) and a DuckDB oracle can replay the identical
    * iterations with `//` and integer sums (`q_doc_pagerank` is
    * hash-checked, not rows-only). Per-step floor loss is ≤ 1 unit
    * (10⁻¹⁵) per node per round — five orders below the 1e-8 closed-form
    * tolerances. The final rank = units/10¹⁵ division is one float op on
    * identical integers in both engines. Requires damping be a multiple
    * of 0.01 so d = num/100 is exact. */
  def pagerank(edges: DataFrame, nodes: DataFrame, iters: Int = 5,
      damping: Double = 0.85): DataFrame = {
    val num = math.round(damping * 100)
    require(num / 100.0 == damping,
      s"damping must be a multiple of 0.01 for the fixed-point iteration, got $damping")
    val ec = edges.columns
    val sym = edges
      .select(col(ec(0)).as("src"), col(ec(1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .unionAll(edges.select(col(ec(1)).as("src"), col(ec(0)).as("dst")))
      .distinct().localCheckpoint(true)
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint(true)
    val ids = nodes.select(col(nodes.columns.head).as("id"))
      .unionAll(sym.select(col("src").as("id"))).distinct().localCheckpoint(true)
    val n = ids.count()
    val baseU = (100L - num) * PrScale / (100L * n) // floor: exact both engines
    // r18 loop restructure (identical integers, same long recurrence):
    //  1. the per-source contribution u div deg is computed on the NODE
    //     side (ranks ⋈ deg) before touching the edge list, so each
    //     round runs ONE edge-sized join instead of two — the old shape
    //     joined ranks onto edges and then deg onto the edge-sized
    //     intermediate (guide §1.2 step 1: don't re-do per-edge what is
    //     per-node);
    //  2. the fixed-depth loop is built as ONE lazy plan (no per-round
    //     localCheckpoint): the checkpointed sym/deg/ids leaves lose
    //     their partitioning metadata (LogicalRDD scans report
    //     UnknownPartitioning), so an eager per-round plan re-shuffled
    //     the edge list EVERY round, while in a single plan the
    //     identical per-round Exchange subtrees over those leaves are
    //     deduplicated by ReuseExchange — the edge list is shuffled once
    //     and re-read from shuffle files in rounds 2..k (guide §2.4
    //     "two operations keyed the same way can share one exchange");
    //  3. shuffle_hash hints put the node-sized side in a hash table
    //     (deg, perSrc, contribs are all ≤ node-sized) instead of
    //     sort-merge — no per-round re-SORT of the reused edge shuffle
    //     (guide §3.1; build sides are |nodes|/partitions rows, the
    //     deployment sizes partitions to bound them).
    // Join strategy never changes the emitted integers: the sum is an
    // exact long fold, order-free by construction.
    var ranks = ids.withColumn("u", lit(PrScale / n))
    for (_ <- 1 to iters) {
      val perSrc = ranks
        .join(deg.hint("shuffle_hash"), ranks("id") === deg("src"))
        .select(ranks("id").as("src"), expr("u div deg").as("c"))
      val contribs = sym
        .join(perSrc.hint("shuffle_hash"), Seq("src"))
        .select(col("dst").as("id"), col("c"))
        .groupBy("id").agg(sum("c").as("in_mass")) // exact long sum, order-free
      ranks = ids
        .join(contribs.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          (lit(baseU) + expr(s"($num * coalesce(in_mass, 0L)) div 100")).as("u"))
    }
    ranks.join(deg.select(col("src").as("id"), col("deg")), Seq("id"), "left")
      .select(col("id"),
        (col("u").cast("double") / lit(PrScale.toDouble)).as("rank"),
        coalesce(col("deg"), lit(0L)).as("deg"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * near-dup pair graph — the graph-shape diagnostic next to
    * [[docPagerank]]: near-clique duplicate groups have clustering ≈ 1,
    * chain-like spurious link paths ≈ 0, so the coefficient separates
    * "true duplicate cluster" from "threshold artifact" before a
    * cluster-collapse pass commits. Triangles come from the ORIENTED
    * edge join (edges carry a_id < b_id, so each triangle x<y<z is
    * found exactly once via (x,y)(x,z)(y,z)) — the standard distributed
    * shape whose cost is Σ per-node oriented-degree², here bounded
    * because the pair graph is already df-capped and thresholded (at a
    * heavier scale the orientation would be by DEGREE, not id, which
    * provably minimizes that bound). Consumes the memoized
    * [[pairEdges]]; clustering = 2T/(deg·(deg−1)) is an exact
    * integer-ratio double, so the whole output is oracle-checkable. */
  def triangleCounts(s: SparkSession, d: String): DataFrame =
    triangleCountsEdges(pairEdges(s, d))

  /** [[triangleCounts]] over an arbitrary (a_id < b_id) edge frame — the
    * testable form.
    *
    * Edges are re-oriented low→high by DEGREE (ties by id) before the
    * wedge join, so the join fan-out is Σ out-deg², which the
    * by-total-degree orientation provably minimizes (every node's
    * out-degree is O(√m) — Chiba–Nishizeki / Suri–Vassilvitskii): a
    * celebrity node of degree d contributes d² wedges under naive by-id
    * orientation but only its (few) higher-degree neighbors² here. Each
    * triangle is still counted exactly once — it has exactly one vertex
    * with two out-edges in any acyclic orientation, and (deg, id) is a
    * total order so the orientation is acyclic (TriangleOrientSpec
    * asserts equality with brute-force enumeration on adversarial
    * fixtures). */
  def triangleCountsEdges(e: DataFrame): DataFrame = {
    val degO = e.select(col("a_id").as("n")).unionAll(e.select(col("b_id").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(degO.select(col("n").as("a_id"), col("d").as("a_deg")), Seq("a_id"))
      .join(degO.select(col("n").as("b_id"), col("d").as("b_deg")), Seq("b_id"))
    val aFirst = col("a_deg") < col("b_deg") ||
      (col("a_deg") === col("b_deg") && col("a_id") < col("b_id"))
    // dst's (deg, id) rides along so the wedge join can order endpoints
    // by the SAME total order without re-joining degrees
    val oriented = withDeg.select(
      when(aFirst, col("a_id")).otherwise(col("b_id")).as("src"),
      when(aFirst, col("b_id")).otherwise(col("a_id")).as("dst"),
      when(aFirst, col("b_deg")).otherwise(col("a_deg")).as("dst_deg"))
      .localCheckpoint(true)
    val dstAfter = col("e2.dst_deg") > col("e1.dst_deg") ||
      (col("e2.dst_deg") === col("e1.dst_deg") && col("e2.dst") > col("e1.dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e2.src") === col("e1.src") && dstAfter)
      .join(oriented.as("e3"), col("e3.src") === col("e1.dst")
        && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("triangles"))
    val deg = e.select(col("a_id").as("doc_id"))
      .unionAll(e.select(col("b_id").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2,
          lit(2.0) * col("triangles") / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
  }

  /** The thresholded near-dup pair graph over the raw documents table —
    * memoized under its own key because BOTH connected-components
    * variants ([[dedupClusters]], [[dedupClustersLogRounds]]) consume the
    * identical edges: the corpus-wide posting self-join (the dominant
    * cost) builds once; each variant's component loop stays separately
    * measurable. */
  private def pairEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"dedup_pairs:$d") {
      // r17: derived from the suite-wide union pair table — the dedup
      // family, jaccard and containment gates now share ONE posting
      // self-join per suite; this memo keeps its own (tiny, id-only)
      // checkpoint because the connected-components fixpoint re-reads
      // its edges every round and wants truncated lineage
      memoPairUnion(s, d, 100L).where(col("jaccard") >= 0.12)
        .select("a_id", "b_id")
    }

  /** Gate query: the CLEANED corpus — documents left-semi-joined to the
    * canonical representatives of [[dedupClusters]]. The semi-join ships
    * only the key column and never widens rows: the dedup-filter shape to
    * use at 100 TB (the keep-set is doc-count-sized, the corpus is
    * content-sized). Executes eagerly (see [[dedupClusters]]). */
  def dedupClean(s: SparkSession, d: String): DataFrame = {
    val canonical = dedupClusters(s, d).where(col("keep")).select("doc_id")
    Tables.documents(s, d)
      .join(canonical, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "n_chars")
  }

  /** SimHash near-dup pairs: docs sharing any 16-bit band, verified by
    * exact Hamming distance on the 64-bit signatures. Bucketed, not
    * all-pairs.
    *
    * RECALL CONTRACT (exact): with 4 disjoint 16-bit bands, a pair at
    * Hamming distance h ≤ 3 cannot touch all four bands (pigeonhole), so
    * at least one band matches and the pair is ALWAYS a candidate —
    * recall is exactly 1 for h ≤ maxHamming = 3, the standard 64-bit
    * simhash configuration (Manku et al., WWW'07). For radii above 3
    * the single 4-band table misses pairs whose flips hit all four
    * bands; that loss is MEASURED, not guessed: [[simhashBandRecall]] /
    * `q_simhash_recall` report per-h and cumulative recall against
    * exact-Hamming ground truth (SimhashRecallSpec pins recall(≤3) = 1
    * and the planted >3 misses). Callers wanting h > 3 must pass
    * `maxHamming` explicitly and accept the measured recall, or add
    * permuted band tables. */
  def simhashNearDup(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(
      simhash(s, d).select(col("doc_id").as("id"), col("simhash").as("sig")),
      maxHamming)

  /** GENERIC blocked Hamming near-dup over any (id, sig) 64-bit
    * signature frame — the shared engine behind [[simhashNearDup]]
    * (text) and `Media.mediaPhashNearDup` (perceptual hashes), keyed by
    * Manku-Manber-Sarma 3-of-6 block combinations (see
    * [[HBlockShifts]]). Same recall contract: exhaustive for
    * Hamming ≤ 3 (pigeonhole over the 6 blocks), measured via
    * [[simhashBandRecall]] above that. `blockCols` names extra
    * columns of `sigs` that must MATCH for two rows to be candidates
    * (e.g. media `kind`: an image and an audio clip are never dedup
    * candidates even if their histograms collide) — block columns join
    * alongside the band key, so blocking tightens the shuffle key rather
    * than adding a post-filter. Own + release (VERDICT r5
    * #3): the signature cache feeds 8 scans (4 band branches × 2 join
    * sides); the (small) pair result is materialized eagerly so the
    * cache never escapes into a lazy plan without an unpersist handle. */
  /** 6-block split of a 64-bit signature: widths 11,11,11,11,10,10 at
    * shifts 0,11,22,33,44,54 — the Manku-Manber-Sarma geometry (WWW
    * 2007 §3, "detecting near-duplicates for web crawling"): keys are
    * every C(6,3) = 20 choice of THREE blocks (~32-bit keys), so ≤ 3
    * bit flips damage ≤ 3 blocks, leave ≥ 3 intact, and some 3-block
    * combo is fully clean — the same exhaustive-at-Hamming-≤3 pigeonhole
    * as 4×16 banding, but with key space 2³² instead of 2¹⁶. */
  private val HBlockShifts = Vector(0, 11, 22, 33, 44, 54)
  private val HBlockWidths = Vector(11, 11, 11, 11, 10, 10)
  private val HBlockCombos: Seq[Seq[Int]] = (0 to 5).combinations(3).toSeq

  def bandedHammingPairs(sigs: DataFrame, maxHamming: Int = 3,
      blockCols: Seq[String] = Nil): DataFrame = {
    val blocks = blockCols.map(col)
    def blockVal(i: Int): Column =
      shiftrightunsigned(col("sig"), HBlockShifts(i))
        .bitwiseAND(lit((1L << HBlockWidths(i)) - 1))
    // one struct per 3-of-6 combo: (combo idx, 3 block values packed
    // into 11-bit lanes). 2¹⁶-keyed 4×16 banding saturates once the
    // corpus passes ~10⁵ rows — bucket occupancy grows linearly and the
    // within-bucket pair term goes QUADRATIC (measured: 12.25 s at
    // 500 k docs → 136 s at 1.5 M, the sf30 step's catch). The 20
    // combo keys cost 5× the map rows but are ~2³²-sparse: expected
    // background bucket size stays ≪ 1 far past 10⁹ rows.
    val keyStructs = HBlockCombos.zipWithIndex.map { case (c, idx) =>
      struct(lit(idx).as("combo"),
        (blockVal(c(0)) * lit(1L << 22) + blockVal(c(1)) * lit(1L << 11)
          + blockVal(c(2))).as("key"))
    }
    val sh = sigs.select(col("id") +: col("sig") +: blocks: _*).cache()
    try {
      val keyed = sh.select(col("id") +: col("sig") +: blocks :+
        explode(array(keyStructs: _*)).as("ck"): _*)
        .select(col("id") +: col("sig") +: blocks :+
          col("ck.combo").as("combo") :+ col("ck.key").as("key"): _*)
      // bit_count is a single codegen'd popcount — never an interpreted
      // 64-step HOF fold
      val hamming = expr("bit_count(a_sim ^ b_sim)")
      // hamming-filter BEFORE distinct: the popcount is one codegen'd op per
      // joined row, so filtering first shrinks the distinct's shuffle input
      // from every key collision (~20× pairs) to only passing pairs
      keyed.as("a")
        .join(keyed.as("b"),
          blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
            .foldLeft(col("a.key") === col("b.key")
              && col("a.combo") === col("b.combo")
              && col("a.id") < col("b.id"))(_ && _))
        .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
          col("a.sig").as("a_sim"), col("b.sig").as("b_sim"))
        .withColumn("hamming", hamming)
        .where(col("hamming") <= maxHamming)
        .select("a_id", "b_id", "hamming")
        .distinct()
        .localCheckpoint(true)
    } finally sh.unpersist()
  }

  /** Measured recall of the 3-of-6-block keying against EXACT Hamming
    * ground truth: a fixed probe set (first `nProbes` ids — deterministic)
    * is broadcast against every signature, each probe-partner pair gets
    * its true Hamming distance (one codegen'd popcount) and a
    * key-collision flag (some 3-block combo fully clean ⟺ at least 3
    * of the 6 blocks equal — the combinatorial identity that lets the
    * flag be a block-equality COUNT instead of 20 key comparisons), and
    * the result is one row per distance h ≤ maxH with pair counts and
    * CUMULATIVE recall at ≤ h. This is the q_ann_recall pattern applied
    * to simhash: the blocking's loss above the guaranteed radius is a
    * number in the gate output, not a scaladoc adjective. Scale shape:
    * the ground-truth side is the all-partners scan of a BOUNDED
    * broadcast probe set (nProbes × N popcounts, embarrassingly
    * parallel, no shuffle until the ≤ 65-row groupBy); the bounded
    * global window orders ≤ maxH+1 rows. */
  def simhashBandRecall(sigs: DataFrame, nProbes: Int = 200,
      maxH: Int = 12): DataFrame = {
    def bands(c: org.apache.spark.sql.Column, p: String) =
      HBlockShifts.indices.map(i =>
        shiftrightunsigned(c, HBlockShifts(i))
          .bitwiseAND(lit((1L << HBlockWidths(i)) - 1)).as(s"$p$i"))
    val base = sigs.select(col("doc_id"), col("simhash"))
    val probes = base.orderBy("doc_id").limit(nProbes)
      .select(col("doc_id").as("p_id") +: col("simhash").as("p_sim")
        +: bands(col("simhash"), "p_b"): _*)
    val part = base.select(col("doc_id") +: col("simhash")
      +: bands(col("simhash"), "b"): _*)
    val blocked = HBlockShifts.indices
      .map(i => when(col(s"p_b$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _) >= 3
    val w = Window.orderBy("hamming")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    broadcast(probes).join(part, col("p_id") < col("doc_id"))
      .select(expr("bit_count(p_sim ^ simhash)").as("hamming"),
        when(blocked, 1L).otherwise(0L).as("blk"))
      .where(col("hamming") <= maxH)
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"), sum("blk").as("n_blocked"))
      .withColumn("cum_pairs", sum("n_pairs").over(w))
      .withColumn("cum_blocked", sum("n_blocked").over(w))
      .withColumn("recall",
        round(col("cum_blocked").cast("double") / col("cum_pairs"), 6))
  }

  /** Gate query: band-blocking recall over the documents table. */
  def simhashRecall(s: SparkSession, d: String): DataFrame =
    simhashBandRecall(simhash(s, d))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, from the paper's
    * public description): partition the embedding space with seeded
    * k-means (deterministic Lloyd refinement over the √n lowest-id
    * seeds — the same centroid machinery as the IVF index), then search
    * for near-duplicate pairs ONLY within each cluster and drop every
    * vector that has a lower-id partner at cosine ≥ tau. The clustering
    * is the scale device: with ~√n clusters the within-cluster pair
    * space is linear in the corpus, the same bound as the IVF/LSH
    * variants — the trade (cross-cluster near-dups are missed; EXACT
    * duplicates always co-cluster because identical vectors share a
    * nearest centroid) is the paper's own contract, and SemDedupSpec
    * measures it against the brute-force all-pairs ground truth.
    *
    * vs [[embedDedupClusters]] (LSH-bucketed pair graph + connected
    * components): this is the CENTROID-partitioned member of the family
    * — no banding hyperparameters, and the cluster id doubles as the
    * IVF routing key, so a corpus that already carries the index pays
    * nothing extra for dedup. DuckDB-oracled (OracleCtes.semDedupCtes):
    * the seeded-Lloyd pipeline is deterministic end to end — lowest-id
    * seeds, ties to the lowest centroid id, per-bucket means summed in
    * vec_id order — so the oracle unrolls both refinement rounds in SQL
    * and replays every decision; SemDedupSpec additionally pins
    * planted-dup recovery, flag precision, subset-of-brute-force
    * agreement, and the decision margins the hash check rests on. */
  def semDedup(s: SparkSession, d: String, tau: Double = 0.95,
      nClusters: Int = 0, iters: Int = 2): DataFrame =
    semDedupVecs(Similarity.withNorm(s, d), tau,
      // resolve the default √n sizing from the memoized corpus count
      // (identical value; skips a per-gate count job)
      if (nClusters > 0) nClusters
      else Similarity.centroidCount(Similarity.embCount(s, d)), iters)

  /** [[semDedup]] at the PRODUCTION parameterization: `nClusters =
    * n / targetClusterSize`, so the expected cluster size — and with it
    * the per-vector candidate count — is a CONSTANT, making the
    * within-cluster pair space O(n) at any corpus size (the √n gate
    * default grows pairs ~n^1.5: fine for a recall-friendly small-sf
    * gate, wrong at 100 TB — SCALE.md round-9 diagnosis; the
    * SurvivorshipSpec pair-space test pins the linearity claim). The
    * sizing count is one scan; k-means cost grows with nClusters but
    * each Lloyd round stays one broadcast-assign + one mean shuffle. */
  def semDedupLinear(s: SparkSession, d: String, tau: Double = 0.95,
      targetClusterSize: Int = 25, iters: Int = 2): DataFrame = {
    val e = Similarity.withNorm(s, d)
    val nc = math.max(4,
      (Similarity.embCount(s, d) / targetClusterSize).toInt)
    semDedupVecs(e, tau, nc, iters)
  }

  /** [[semDedup]] over an arbitrary (vec_id, embedding, nrm) frame. */
  def semDedupVecs(e: DataFrame, tau: Double = 0.95, nClusters: Int = 0,
      iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.floatDot
    val nc = if (nClusters > 0) nClusters
      else Similarity.centroidCount(e.count())
    // beyond the broadcast-clamp scale a flat nearest-centroid scan is
    // n·nc dots — quadratic under the linear parameterization (nc ∝ n);
    // route through the two-level assignment instead (the round-11 sf30
    // find: 21.4 → 207 s per 3× step, restored to ~linear — SCALE.md).
    // Below the threshold the flat scan is both cheaper and exact, and
    // keeps the small-sf gate outputs bit-identical.
    val hier = nc > 512
    // refineCentroids owns its cache lifecycle over e for the Lloyd rounds
    val cents = Similarity.refineCentroids(e, nc, iters, hier)
    val assigned = (if (hier) Similarity.assignWithHier(e, cents)
      else Similarity.assignWith(e, cents))
      .withColumnRenamed("bucket", "cluster")
    // within-cluster near-dup partners with a LOWER id: one shuffle on
    // cluster; ~√n clusters keep the pair space linear in the corpus
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val dropped = a.join(b, Seq("cluster"))
      .where(col("a_id") < col("b_id"))
      .where(floatDot(col("a_emb"), col("b_emb"))
        / (col("a_nrm") * col("b_nrm")) >= tau)
      .groupBy(col("b_id").as("vec_id"))
      .agg(min(col("a_id")).as("dup_of"), count(lit(1)).as("n_dups"))
    assigned.select("vec_id", "cluster")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("keep"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of"))
  }

  /** Train/eval split-leakage audit — the audit a training pipeline runs
    * AFTER splitting, where [[decontaminateDocs]] is what it runs BEFORE:
    * given the deterministic LCG doc split (the same mixed-congruential
    * recipe as `Relational.stratifiedSplit`, engine-independent integer
    * math), find every val/test document whose exact content (sha256 of
    * the raw text) also appears in train. Cost shape: one hash groupBy
    * side (train distinct hashes) + one shuffle join on the 256-bit hash
    * — the exact-dedup bound, linear at 100 TB. Holdout rows that leak
    * poison every eval metric they touch, so the report carries the
    * evidence (which split, how many train copies, the lowest train
    * doc_id) rather than a bare boolean. Fully oracle-able: LCG + sha256
    * reproduce bit-for-bit in DuckDB. Near-dup leakage (the softer
    * failure) is the composition of this split with [[ngramJaccardDocs]];
    * this gate pins the exact tier.
    *
    * The driver corpus carries zero exact duplicates, so the gate unions
    * in a deterministic "re-crawl": every 7th document again under
    * doc_id + 10000 (the same synthesized-batch device as the
    * merge-upsert and incremental-dedup gates). Duplicate content now
    * exists, the LCG scatters each copy-pair across splits independently,
    * and the audit has real leakage to find (~32 % of planted pairs). */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "text")
    val recrawl = base.where(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val mix = pmod(
      pmod(col("doc_id"), lit(2147483648L)) * 1103515245L + 12345L,
      lit(2147483648L))
    val bucket = pmod(mix, lit(100L))
    val docs = base.unionAll(recrawl)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .withColumn("text_hash", sha2(col("text"), 256))
    val trainSide = docs.where(col("split") === "train")
      .groupBy("text_hash")
      .agg(count(lit(1)).as("n_train_copies"),
        min(col("doc_id")).as("first_train_doc"))
    docs.where(col("split") =!= "train")
      .join(trainSide, Seq("text_hash"))
      .select(col("doc_id"), col("split"), col("text_hash"),
        col("n_train_copies"), col("first_train_doc"))
  }

  /** Per-key time-horizon debounce over the events stream: drop an event
    * when the SAME (user_id, event_type) fired within `horizonS` seconds
    * before it — the batch twin of `EventStreams`' watermarked streaming
    * dedup, and the standard telemetry/click dedup (double-fire buttons,
    * at-least-once producers re-emitting inside a retry window). The
    * predicate compares each event to its previous RAW neighbor (one
    * `lag` over a series-partitioned window — bounded partitions, no
    * global sort), not to the previous KEPT one: the kept-anchor variant
    * is an order-dependent sequential scan that no keyed window
    * expresses, while the raw-neighbor form is the one that runs at
    * 100 TB in one shuffle. Ties at identical timestamps break by
    * event_id, so the earliest id of a same-instant burst survives.
    * Fully oracle-able (LAG + epoch arithmetic). */
  def windowDedup(s: SparkSession, d: String, horizonS: Long = 60L): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    Tables.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .where(col("prev_us").isNull ||
        unix_micros(col("ts")) - col("prev_us") > horizonS * 1000000L)
      .select("event_id", "ts", "user_id", "event_type", "value")
  }

  /** Boilerplate-prefix clustering: group documents by the sha256 of
    * their first `prefixChars` characters and report every cluster that
    * shares a prefix without being exact duplicates throughout
    * (n_distinct_full > 1 distinguishes template boilerplate — same
    * header, different tails — from plain exact copies, which
    * [[exact]] already removes). This is the cheap first-pass that
    * catches the dominant web-scrape failure mode (site templates,
    * license headers, injected banners) at hash-groupBy cost: one
    * shuffle on a 256-bit key, no shingling, no pair join — the scan
    * you run at 100 TB BEFORE deciding whether the corpus needs the
    * (much dearer) shingle-index near-dup pass at all. Fully
    * oracle-able: substring semantics are 1-based character slices on
    * both engines. */
  def prefixDedup(s: SparkSession, d: String, prefixChars: Int = 64): DataFrame =
    Tables.documents(s, d)
      .withColumn("prefix_hash", sha2(substring(col("text"), 1, prefixChars), 256))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(sha2(col("text"), 256)).as("n_distinct_full"),
        min(col("doc_id")).as("canonical_doc"))
      .where(col("n_docs") > 1)

  /** Survivorship / golden-record consolidation — the step AFTER
    * duplicate detection in an entity-resolution pipeline: each
    * duplicate cluster (here [[prefixDedup]]'s boilerplate-prefix
    * clusters) collapses to one canonical record plus merged
    * provenance: member count, distinct sources, the sorted language
    * set, and the attribute survivorship rules (min id wins identity,
    * max/min chars bound the content spread). Same hash-groupBy cost as
    * the detector itself — one shuffle on the 256-bit key, all merge
    * rules are ordinary aggregates, the language set is
    * alphabet-bounded. */
  def survivorship(s: SparkSession, d: String): DataFrame =
    survivorshipDocs(Tables.documents(s, d))

  /** [[survivorship]] over an arbitrary (doc_id, text, source, lang,
    * n_chars) frame — the spec entry point (tie-break and multi-source
    * merge cases run on a planted fixture). */
  def survivorshipDocs(docs: DataFrame, prefixChars: Int = 64): DataFrame =
    docs
      .withColumn("prefix_hash", sha2(substring(col("text"), 1, prefixChars), 256))
      .groupBy("prefix_hash")
      .agg(count(lit(1)).as("n_members"),
        min("doc_id").as("canonical_doc"),
        count_distinct(col("source")).as("n_sources"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .where(col("n_members") > 1)

  /** Blocked edit-distance record linkage: match a dirty key column
    * against a clean vocabulary within Levenshtein ≤ maxDist, WITHOUT
    * the all-pairs cross join — candidates equi-join on a blocking key
    * (here (lang, 2-char prefix) plus a ±maxDist length prefilter), and
    * only blocked candidates pay the O(len²) distance kernel. This is
    * the canonical entity-resolution / typo-canonicalization shape
    * (vocab normalization before token counting, source-name
    * reconciliation, …).
    *
    * Recall contract (the GATE SEMANTICS, unchanged): pairs share
    * (lang, first-2-chars) — every edit at position ≥ 3, which is
    * exactly the perturbation family the gate fixture plants (3rd-char
    * deletions). Production edits at position < 3 need the standard
    * multi-pass scheme (union a suffix-block pass — same plan, second
    * key). EXECUTION at maxDist=1 does not join on the prefix ALONE,
    * though: prefix blocks inherit the corpus' prefix skew (one
    * mega-prefix family makes Σ block² quadratic — see
    * fuzzyVocabJoinBlocked), so candidates come from a FastSS
    * deletion-neighborhood join on (lang, prefix, shared variant) whose
    * block sizes are bounded by true match multiplicity (r18: the
    * prefix rides IN the key and deletions generate at positions ≥ 3
    * only — exactness argument at the join site); output is
    * bit-identical. The gate's
    * dirty side is derived deterministically from the corpus vocabulary
    * itself (3rd char deleted from every token ≥ 4 chars), so both
    * engines rebuild identical inputs — the planted-fixture pattern of
    * the media/recrawl gates.
    *
    * Plan: vocab groupBy (one shuffle, vocab-sized output), a derived
    * dirty side, one equi-join on the block key, `levenshtein()`
    * (codegen'd, both engines) as a post-join filter. */
  def fuzzyVocabJoin(s: SparkSession, d: String, maxDist: Int = 1): DataFrame = {
    // vocab feeds BOTH join sides: materialized eagerly (localCheckpoint)
    // so the corpus tokenize+count runs once, and released in a finally —
    // the own+release half of the Dedup cache-ownership contract (a bare
    // .cache() escaping into the returned lazy plan leaks vocab-sized
    // blocks per call for library composers; VERDICT r5 #3 hazard class)
    val vocab = Tables.documents(s, d)
      .select(col("lang"), explode(TextAnalytics.tokens(col("text"))).as("token"))
      .where(length(col("token")) >= 4)
      .groupBy("lang", "token").agg(count(lit(1)).as("c_token"))
      .cache()
    try fuzzyVocabJoinBlocked(vocab, maxDist).localCheckpoint(true)
    finally vocab.unpersist()
  }

  /** `{x} ∪ del1(x)`: the string plus every single-character deletion —
    * the FastSS deletion neighborhood for distance 1 (Bocek et al. 2007,
    * public; also SymSpell). lev(u,v) ≤ 1 IMPLIES the neighborhoods
    * intersect — the recall direction candidate generation relies on:
    * equal strings share x; a substitution at position i shares the
    * deletion at i; an insertion/deletion shares the shorter string
    * itself. The converse is FALSE: intersection is necessary but not
    * sufficient ("caca"/"acaa" both delete to "aca" yet sit at distance
    * 2 — same-length strings sharing a deletion at different positions).
    * False positives are removed by the exact `levenshtein` post-filter
    * in fuzzyVocabJoinBlocked. Pure Catalyst HOF (codegen), no UDF;
    * array_union dedupes repeated-char deletions. */
  private def deletionNeighborhood(c: org.apache.spark.sql.Column) =
    array_union(array(c), transform(sequence(lit(1), length(c)),
      i => concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), length(c)))))

  private def fuzzyVocabJoinBlocked(vocab: DataFrame, maxDist: Int): DataFrame = {
    val dirty = vocab.select(col("lang"),
        concat(substring(col("token"), 1, 2), substring(col("token"), 4, 1000000))
          .as("query_term"))
      .distinct()
    val block = (t: org.apache.spark.sql.Column) => substring(t, 1, 2)
    val candidates =
      if (maxDist == 1) {
        // Deletion-neighborhood (FastSS) candidate generation: join on
        // (lang, 2-char prefix, shared-variant) instead of (lang, 2-char
        // prefix) alone. The prefix block's size is set by the corpus'
        // prefix DISTRIBUTION — a mega-prefix (a salt family, "un-"/"re-"
        // in a web vocab) makes Σ block² quadratic (measured: the
        // clean-fixture salt family "zs…" put ~10⁶ tokens in ONE
        // (lang, "zs") block at sf1 and the old join ran 15+ min where
        // r10's skew-free fixture took 0.9 s). Variant keys collide only
        // on strings within the distance-≤2 edit neighborhood, so block
        // sizes are bounded by edit-neighborhood multiplicity, not by
        // key skew. Recall is exact at maxDist=1; the distance-2 false
        // candidates are removed by the levenshtein post-filter below;
        // one pair can share several variants, hence the distinct().
        //
        // r18 (VERDICT r17 #3 "narrow the join input"): two exact
        // candidate-space cuts, output bit-identical (pinned by
        // TextMemoSpec against the full-neighborhood formulation and
        // hash-exact vs the DuckDB oracle):
        //  1. the first-2-chars equality moved from a post-join filter
        //     INTO the join key — the recall contract already restricts
        //     pairs to a shared (lang, prefix) block, so keying on it
        //     only removes candidates the filter discarded;
        //  2. deletions are generated at positions ≥ 3 ONLY: under
        //     prefix-2 blocking at maxDist = 1 a pair needing a
        //     position-≤2 deletion witness either breaks the prefix
        //     (dropped by the key either way) or sits on a repeated run
        //     v₁=v₂(=v₃) that makes del₃ the same string — so
        //     {x} ∪ del_{i≥3}(x) already contains a shared witness for
        //     every surviving pair. Measured at sf1: exploded mass
        //     6.06 M + 2.96 M → ~¾ of that, joined candidates
        //     14.9 M → the prefix-sharing subset (the join previously
        //     produced 2.4× the rows the filters kept).
        //
        // r17 measured NOT to hash this key: replacing the variant
        // STRINGS with xxhash64 longs (the rarePostings compaction, and
        // provably output-identical here — lev ≤ 1 guarantees a true
        // shared variant, so collision-born candidates are either
        // post-filtered or duplicates) regressed the gate 4-19× at sf1
        // (8.2 s → 31-159 s with multi-second GC, both with the planner
        // free AND with an explicit merge hint). The string-keyed SMJ
        // stays; the shuffle-byte saving does not pay for whatever the
        // hashed-key plan does to this join on this engine version.
        val delFrom3 = (c: org.apache.spark.sql.Column) =>
          array_union(array(c), transform(sequence(lit(3), length(c)),
            i => concat(c.substr(lit(1), i - lit(1)), c.substr(i + lit(1), length(c)))))
        vocab.withColumn("bk", block(col("token")))
          .withColumn("variant", explode(delFrom3(col("token"))))
          .join(dirty.withColumn("bk", block(col("query_term")))
            .withColumn("variant", explode(delFrom3(col("query_term")))),
            Seq("lang", "bk", "variant"))
      } else {
        // multi-edit linkage keeps the prefix-block + length-prefilter
        // shape (deletion neighborhoods grow combinatorially past d=1);
        // bounded-block-size caveat documented in the method scaladoc
        vocab.withColumn("bk", block(col("token")))
          .join(dirty.withColumn("bk", block(col("query_term"))), Seq("lang", "bk"))
      }
    // r18: ONE thresholded levenshtein per candidate — the bounded kernel
    // (O(len·maxDist) band instead of the full O(len²) DP table; returns
    // the exact distance when ≤ maxDist, -1 past it, so the emitted dist
    // is unchanged) computed once as a column instead of re-evaluating
    // the unbounded kernel in the filter AND the projection. At sf1 the
    // lev filter is the candidate stage's hot loop: 14.8 M candidate
    // pairs, 58 % of them FastSS distance-2 false positives that exist
    // only to be killed here.
    candidates
      .withColumn("dist", levenshtein(col("token"), col("query_term"), maxDist))
      .where(abs(length(col("token")) - length(col("query_term"))) <= maxDist
        && col("dist") >= 0)
      .select(col("lang"), col("token"), col("query_term"), col("dist"),
        col("c_token"))
      .distinct()
  }
}
