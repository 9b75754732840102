package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for LLM-data pipelines over the `documents`
  * table (brief north-star: language-ID, quality scoring, token counting,
  * fingerprinting). All pure codegen-friendly Column expressions / SQL
  * higher-order functions — no UDFs, so every transform stays inside
  * whole-stage codegen and scales embarrassingly (per-row, no shuffle).
  */
object TextAnalytics {

  /** Whitespace tokens of the trimmed, lowercased text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** All consecutive n-token windows of a token-array column, space-
    * joined, WITH multiplicity and in position order. The single source
    * of the sliding-window expression shared by dedup shingles
    * (array_distinct on top), repetition grams, and duplicated-span
    * windows — the three used to carry diverging copies (and diverging
    * domain guards, one of which crashed: sequence(0, size-n) steps
    * BACKWARD when size < n, producing negative slice offsets).
    * Callers MUST filter to size(toks) >= n first. */
  def tokenWindows(toks: Column, n: Int): Column =
    transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein", "nicht")
  private val stopEs = Seq("el", "la", "de", "que", "y", "los", "es")
  private val stopFr = Seq("le", "la", "les", "et", "des", "un", "est")

  private def hits(toks: Column, stop: Seq[String]): Column =
    size(filter(toks, t => array_contains(array(stop.map(lit): _*), t))).cast("long")

  /** Per-document statistics: char/token counts, alpha ratio, stopword
    * ratio, mean token length, and a simple quality gate — the standard
    * pre-training corpus filters (length / punctuation / stopword ratio). */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val t    = tokens(col("text"))
    val nTok = size(t).cast("long")
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      nTok.as("n_tokens"),
      (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
        / length(col("text"))).as("alpha_ratio"),
      (hits(t, stopEn).cast("double") / nTok).as("stop_ratio"),
      (length(regexp_replace(col("text"), "\\s+", "")).cast("double") / nTok)
        .as("mean_token_len"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 5 && col("n_tokens") <= 100000
          && col("alpha_ratio") >= 0.5 && col("stop_ratio") >= 0.01))
  }

  /** Stopword-profile language ID (n-gram-heuristic family): score each
    * candidate language by stopword hits, pick the max with a fixed
    * priority tiebreak. Per-row, shuffle-free. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        hits(t, stopEn).as("en_hits"), hits(t, stopDe).as("de_hits"),
        hits(t, stopEs).as("es_hits"), hits(t, stopFr).as("fr_hits"))
      .withColumn("pred_lang",
        when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("es_hits")
          && col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") >= col("es_hits") && col("de_hits") >= col("fr_hits"), "de")
          .when(col("es_hits") >= col("fr_hits"), "es")
          .otherwise("fr"))
      .withColumn("is_match", col("pred_lang") === col("lang"))
  }

  /** Token counting, whitespace + BPE-ish regex (letters / digits / single
    * punctuation — the usual cheap proxy for tokenizer budget). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")
        .as("n_bpe_tokens"))

  /** Heaps'-law vocabulary-growth curve: distinct-vocabulary size and
    * total token volume after each ingestion decile (docs ordered by
    * doc_id) — the corpus-curation readout for "is new data still
    * bringing new vocabulary, or are we re-crawling the same text".
    * The naive form (count-distinct per prefix) is a per-checkpoint
    * full re-scan; this is the FIRST-OCCURRENCE formulation: one
    * groupBy(token).min(doc_id) collapses the corpus to its vocabulary,
    * and every checkpoint's distinct count is then a conditional sum
    * over that table — vocab(c) = #{tokens | first_doc < c}. One token
    * scan + one vocabulary-sized aggregate for ALL checkpoints, exact
    * (no sketch), and embarrassingly partial-aggregable. Thresholds are
    * integer `(max_id+1)·k div steps`, carried on a broadcast 1-row max
    * (the scalar-threshold pattern — no driver collect). */
  def vocabGrowth(s: SparkSession, d: String, steps: Int = 10): DataFrame = {
    val docs = Tables.documents(s, d)
    val m = docs.agg(max("doc_id").as("mx"))
    def thr(k: Int): Column = expr(s"(mx + 1) * $k div $steps")
    // first-occurrence table from the session term-count memo (r17):
    // min(doc_id) rides the same aggregate pass the count consumers pay
    val firsts = memoTermCounts(s, d)
      .select(col("term").as("token"), col("first_doc"))
    val vAggs = (1 to steps).map(k =>
      sum(when(col("first_doc") < thr(k), 1L).otherwise(0L)).as(s"v$k"))
    val vrow = firsts.crossJoin(broadcast(m)).agg(vAggs.head, vAggs.tail: _*)
    val perDoc = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val dtAggs = (1 to steps).flatMap(k => Seq(
      sum(when(col("doc_id") < thr(k), 1L).otherwise(0L)).as(s"d$k"),
      sum(when(col("doc_id") < thr(k), col("n_tok")).otherwise(0L)).as(s"t$k")))
    val trow = perDoc.crossJoin(broadcast(m)).agg(dtAggs.head, dtAggs.tail: _*)
    val stepRows = (1 to steps).map(k => struct(
      lit(k).as("decile"), col(s"d$k").as("n_docs"),
      col(s"t$k").as("n_tokens"), col(s"v$k").as("vocab")))
    vrow.crossJoin(trow)
      .select(explode(array(stepRows: _*)).as("r"))
      .select(col("r.decile"), col("r.n_docs"), col("r.n_tokens"), col("r.vocab"))
  }

  /** TF-IDF top terms per document: term frequencies from one
    * (doc, term) aggregation, document frequencies from a second partial
    * aggregation over the tf rows (distinct (doc, term) by construction —
    * no count-distinct pass), smoothed idf = ln((N+1)/(df+1)) + 1, and
    * top-k terms per doc by a window over the doc (partition bounded by
    * per-doc VOCABULARY, not corpus). N is the documents table's row
    * count from its parquet footers (`Tables.rowCount`, no Spark job),
    * as for the IVF centroid sizing.
    * The documents are clustered by `doc_id` once, before tokenizing:
    * the tf aggregate, the top-k window and df's input then all run
    * inside that one exchange, whose (doc_id, text) rows are smaller than
    * the (doc, term, count) rows it replaces, and the tf and df branches
    * reuse it. Only df's per-term rollup shuffles again.
    * Rank key rounds the score to 6 dp with a term tiebreak so the
    * ordering is reproducible cross-engine (see the package determinism
    * recipe). */
  def tfidfTopTerms(s: SparkSession, d: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // The tf table is NOT checkpointed although it feeds both the df
    // rollup and the probe side: materializing the (doc, term, tf) table
    // costs more than the tokenize+partial-agg it would save (measured at
    // sf1 — the tokenize receipt in OPTIMIZATION_r17.md: tokenize is not
    // the bottleneck).
    val n = Tables.rowCount(s, s"$d/documents.parquet")
    val tf = docs
      .select(col("doc_id"), col("text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("score",
        round(col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("doc_id", "rank", "term", "tf", "df", "score")
  }

  // ── r17 session memos: the text family's shared count tables ───────
  // The family's gates each rebuilt the same corpus-wide aggregates
  // (the suite-level redundancy pattern of the ngram/ANN/arima
  // families): the unigram term-count table ran 5× per suite
  // (q_unigram_logprob, q_collocations, q_heavy_hitters,
  // q_tokenize_ids, q_vocab_growth), the bigram pair-count table 2×
  // (q_bigram_logprob, q_collocations), and the per-doc unigram LM
  // score table 4× across 3 gates (q_unigram_logprob, q_quality_prune,
  // q_quality_prune_sketch — the sketch evaluates its lazy score frame
  // on BOTH sides of the threshold). One Memo.cached build per
  // (session, dir) now serves every consumer; all builders are
  // deterministic, so downstream oracle hashes are unchanged
  // (TextMemoSpec pins memo-path == direct-build rows per rewired
  // consumer). The *Docs forms stay memo-free for arbitrary frames.

  /** Memoized corpus term-count table (term, c, first_doc) over the
    * driver documents — ONE tokenize+groupBy(term) pass per session.
    * `first_doc` rides along for [[vocabGrowth]]'s first-occurrence
    * formulation (same aggregate pass, zero extra shuffle). */
  private def memoTermCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"text_term_counts:$d")(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("c"), min("doc_id").as("first_doc")))

  /** Memoized corpus bigram-count table (w1, w2, c_xy) — adjacent token
    * pairs WITH multiplicity over docs with ≥ 2 tokens. Serves
    * [[bigramLogProb]] (pair counts; the prefix counts derive by a
    * vocab²-sized rollup, identical integers) and [[collocationsPmi]]. */
  private def memoBigramCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"text_bigram_counts:$d")(
      Tables.documents(s, d)
        .select(tokens(col("text")).as("t"))
        .where(size(col("t")) >= 2)
        .select(explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy")))

  /** Memoized per-doc unigram LM score table — [[unigramLogProbDocs]]'
    * result over the driver documents, with the term-count side read
    * from [[memoTermCounts]] (identical integers, so the per-occurrence
    * ln() stream is the same multiset of doubles the unmemoized form
    * sums; the 6-dp round key already owns the sum-order hazard). */
  private def memoUnigramScores(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"text_unigram_scores:$d") {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tc = memoTermCounts(s, d).select(col("term"), col("c"))
      val tot = tc.agg(sum("c").as("n"))
      toks.join(tc, Seq("term")).crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(log(col("c").cast("double") / col("n"))) / count(lit(1)), 6)
            .as("avg_logprob"))
    }

  /** Per-doc token counts (doc_id, dl) — the shared doc-length side for
    * BM25-style scorers (q_bm25, q_hybrid_rrf). r18 (ADVICE r17 #3): a
    * DEDICATED memo over the plain tokenize+groupBy(doc_id) pass, not a
    * view of [[memoUnigramScores]] — reading lengths off the score table
    * made a cold/standalone q_bm25 pay the whole term-count build, the
    * token×counts join and the ln-stream aggregation just to obtain
    * integers one groupBy produces. Identical integers either way (the
    * score table's n_tokens counts the same unfiltered token stream —
    * TextMemoSpec pins both equalities). */
  private[graft] def docTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, s"text_doc_lengths:$d")(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id").agg(count(lit(1)).as("dl")))

  /** Word n-grams WITH multiplicity — repetition analysis needs counts,
    * unlike the dedup shingles (which are distinct per doc). `minTokens`
    * is the domain guard: repetition passes 3 so its bigram and trigram
    * stats share one domain; it must be >= n or the window expression
    * produces negative offsets (the sequence() steps backward). */
  private def grams(docs: DataFrame, n: Int, minTokens: Int = 3): DataFrame = {
    require(minTokens >= n,
      s"minTokens=$minTokens must be >= n=$n (shorter docs crash the window slice)")
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= minTokens)
      .select(col("doc_id"), explode(tokenWindows(col("toks"), n)).as("sh"))
  }

  /** Gopher-style repetition filters: per document, the share of its most
    * frequent bigram among all bigrams and the duplicate-trigram fraction
    * (1 − distinct/total), plus a `repetitive` flag at the standard-ish
    * thresholds. Catches the looping/boilerplate docs length and stopword
    * filters miss. Scale shape (r18): every statistic is a PER-DOCUMENT
    * property of the doc's own gram multiset, so it is computed per ROW
    * with array expressions — zero shuffles, zero joins (guide §2.4
    * "remove shuffles outright"). The pre-r18 form exploded both gram
    * widths and paid two (doc_id, gram-string) exchanges + two per-doc
    * rollups + a join; the max-multiplicity statistic is now a run-length
    * scan over the locally SORTED bigram array (equal grams are adjacent
    * after any total sort, so the longest run IS the top multiplicity),
    * and the distinct-trigram count is `size(array_distinct(...))` —
    * identical integers, identical double division, identical flag.
    * RepetitionRewriteSpec pins the per-row form against the exploded
    * groupBy formulation row-for-row. */
  def repetitionStats(s: SparkSession, d: String,
      topBigramTau: Double = 0.18, dupTrigramTau: Double = 0.30): DataFrame =
    repetitionStatsDocs(Tables.documents(s, d), topBigramTau, dupTrigramTau)

  /** [[repetitionStats]] over an arbitrary (doc_id, text) frame. */
  def repetitionStatsDocs(docs: DataFrame,
      topBigramTau: Double = 0.18, dupTrigramTau: Double = 0.30): DataFrame = {
    // longest run of equal adjacent elements in the sorted bigram array
    // = the top bigram's multiplicity (exact, not hashed); the NULL seed
    // never <=>-matches a token string, so the first element starts run 1
    val topRun = expr(
      """aggregate(array_sort(bgs),
        |  named_struct('prev', CAST(NULL AS STRING),
        |               'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
        |  (acc, x) -> named_struct('prev', x,
        |    'run', IF(acc.prev <=> x, acc.run + 1L, 1L),
        |    'best', greatest(acc.best, IF(acc.prev <=> x, acc.run + 1L, 1L))),
        |  acc -> acc.best)""".stripMargin)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 3) // the shared bigram/trigram domain
      .select(col("doc_id"),
        tokenWindows(col("toks"), 2).as("bgs"),
        tokenWindows(col("toks"), 3).as("tgs"))
      .select(col("doc_id"),
        topRun.as("top_bigram_n"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        size(array_distinct(col("tgs"))).cast("long").as("n_distinct_trigrams"),
        size(col("tgs")).cast("long").as("n_trigrams"))
      .withColumn("top_bigram_ratio",
        col("top_bigram_n").cast("double") / col("n_bigrams"))
      .withColumn("dup_trigram_ratio",
        lit(1.0) - col("n_distinct_trigrams").cast("double") / col("n_trigrams"))
      .withColumn("repetitive",
        col("top_bigram_ratio") > topBigramTau || col("dup_trigram_ratio") > dupTrigramTau)
      .select("doc_id", "top_bigram_n", "n_bigrams", "top_bigram_ratio",
        "dup_trigram_ratio", "repetitive")
  }

  /** Fixed-size token chunking with overlap — the document → training/
    * embedding window fan-out (every long doc becomes overlapping
    * chunk-token windows; the last window is ragged). Chunk c covers
    * tokens [c·stride, c·stride + chunkTokens) with
    * stride = chunkTokens − overlap; a chunk is emitted only if it adds
    * at least one new token, so nChunks = max(1, ⌈(n − overlap)/stride⌉).
    * Pure per-row expressions with a bounded explode (fan-out =
    * tokens/stride) — shuffle-free, scales like a projection. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 1)
      .withColumn("n_chunks", // `div`, not `/`: Column./ on ints is double division
        expr(s"CAST(greatest(1, (size(toks) - $overlap + ${stride - 1}) div $stride) AS BIGINT)"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkTokens.toLong),
          size(col("toks")) - col("chunk_idx") * stride).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkTokens))).as("chunk_text"))
  }

  /** Gate query form of [[chunkDocs]] over the documents table. */
  def chunk(s: SparkSession, d: String): DataFrame =
    chunkDocs(Tables.documents(s, d))

  /** Whitespace-collapse + lowercase normalization followed by PII-style
    * redaction (emails, then ≥3-digit runs → placeholders) — the cleanup
    * pass a crawl corpus gets before tokenization. Pure per-row codegen'd
    * regexp expressions; order matters (emails carry digits, so they are
    * redacted first). */
  def normalizeRedactText(text: Column): Column = {
    val norm = lower(trim(regexp_replace(text, "\\s+", " ")))
    regexp_replace(
      regexp_replace(norm,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<email>"),
      "[0-9]{3,}", "<num>")
  }

  /** Gate query: the testdata text is already clean ASCII, so the noisy,
    * PII-bearing input is SYNTHESIZED deterministically from it (uppercase
    * + doubled spaces + an email and a phone-ish digit run derived from
    * doc_id) in both engines, then normalized and redacted — the oracle
    * hash-checks the full output string. */
  def normalizeRedact(s: SparkSession, d: String): DataFrame = {
    val synth = concat(upper(col("text")),
      lit("  Contact: user"), col("doc_id").cast("string"),
      lit("@example.com  call 555"), col("doc_id").cast("string"), lit(" now"))
    Tables.documents(s, d).select(
      col("doc_id"),
      length(synth).as("raw_len"),
      normalizeRedactText(synth).as("redacted"))
  }

  /** Document fingerprints: (a) md5 over the sorted distinct token set —
    * an order-insensitive bag-of-words identity; (b) a polynomial rolling
    * hash over the token sequence (order-sensitive), char-fold 131 /
    * token-fold 31 mod 1e9+7 — the classic streamable content signature. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(tokens(col("text")))), " "))
        .as("fp"),
      expr(
        """aggregate(
          |  split(lower(trim(text)), '\\s+'),
          |  CAST(0 AS BIGINT),
          |  (H, t) -> (H * 31 + aggregate(
          |    split(t, ''), CAST(7 AS BIGINT),
          |    (h, c) -> (h * 131 + ascii(c)) % 1000000007)) % 1000000007)""".stripMargin)
        .as("fp_roll"))

  /** Percentile-based quality pruning — the filtering step CCNet applies
    * on top of its LM score: rank every document by [[unigramLogProb]]
    * and keep the top keepFrac (the low tail is the gibberish/rare-
    * vocabulary band). The threshold is an EXACT percent_rank with a
    * doc_id tie-break, the same small-scale exact form as
    * `TimeWindows.quantileTrim`; the 100 TB twin is implemented as
    * [[qualityPruneSketch]] (approx_percentile threshold broadcast as a
    * scalar — no rank window anywhere). Only the tiny score table ever
    * feeds this exact form's rank window, never corpus text. */
  def qualityPrune(s: SparkSession, d: String, keepFrac: Double = 0.9): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logprob"), col("doc_id"))
    unigramLogProb(s, d)
      .withColumn("pctl", percent_rank().over(w))
      .where(col("pctl") >= 1.0 - keepFrac)
      .select("doc_id", "n_tokens", "avg_logprob", "pctl")
  }

  /** 100 TB form of [[qualityPrune]] — the sketch twin the exact
    * percent_rank form documents: the keep threshold comes from ONE
    * approx_percentile (GK sketch, partial-aggregating, no sort anywhere)
    * over the per-doc score table and broadcasts back as a scalar filter.
    * Same duality as `TimeWindows.quantileTrim` / `quantileTrimSketch`:
    * the exact form is the oracle-able small-scale variant whose
    * SinglePartition rank window cannot scale past one task's worth of
    * doc-count rows; this form never materializes a global order at all.
    * Boundary semantics differ only AT the threshold: the sketch keeps
    * every doc with avg_logprob >= threshold (ties included), where the
    * exact form's doc_id tie-break can drop some threshold-tied docs —
    * QualityPruneSketchSpec pins >= 99 % keep-set agreement. A deployment
    * would materialize the score table once instead of recomputing it on
    * both sides of the threshold (the Memo pattern); both passes here are
    * over the same lazy frame, which Spark evaluates twice. */
  def qualityPruneSketch(s: SparkSession, d: String, keepFrac: Double = 0.9): DataFrame = {
    val scored = unigramLogProb(s, d)
    val thr = scored.agg(
      expr(s"approx_percentile(avg_logprob, ${1.0 - keepFrac}, 10000)").as("thr"))
    scored.crossJoin(broadcast(thr))
      .where(col("avg_logprob") >= col("thr"))
      .select("doc_id", "n_tokens", "avg_logprob")
  }

  /** [[qualityPruneSketch]] re-gated at its VERDICT POINT (r13 verdict
    * #2): the kept doc SET depends on the GK threshold estimate and is
    * unoracleable, but the sketch's rank contract is exact — the gate
    * emits the exact scored-doc count plus booleans asserting the
    * threshold's exact rank window sits within (1-keepFrac)·n ±
    * (2n/accuracy + 2), and that the kept fraction lands within twice
    * that slack of keepFrac (ties only ever enlarge the keep side). The
    * DuckDB oracle derives n_docs from the same tokenizer CTE and pins
    * the booleans to TRUE. */
  def qualityPruneSketchVerdict(s: SparkSession, d: String,
      keepFrac: Double = 0.9, accuracy: Int = 10000): DataFrame = {
    val scored = unigramLogProb(s, d)
    val thr = scored.agg(expr(
      s"approx_percentile(avg_logprob, ${1.0 - keepFrac}, $accuracy)").as("thr"))
    qualityPruneVerdicts(scored, thr, keepFrac, accuracy)
  }

  /** The verdict half of [[qualityPruneSketchVerdict]], split out (the
    * `sketchRankVerdicts` pattern) so specs can feed a deliberately
    * broken threshold and watch the booleans flip. `thr` is a 1-row
    * frame with a `thr` column. */
  private[graft] def qualityPruneVerdicts(scored: DataFrame, thr: DataFrame,
      keepFrac: Double, accuracy: Int): DataFrame = {
    val agg = scored.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("avg_logprob") < col("thr"), 1L).otherwise(0L)).as("n_lt"),
        sum(when(col("avg_logprob") <= col("thr"), 1L).otherwise(0L)).as("n_le"),
        sum(when(col("avg_logprob") >= col("thr"), 1L).otherwise(0L)).as("n_kept"))
    val slack = lit(2.0) * col("n_docs") / accuracy + 2
    agg.select(col("n_docs"),
      ((col("n_lt") <= ceil(lit(1.0 - keepFrac) * col("n_docs") + slack))
        && (col("n_le") >= floor(lit(1.0 - keepFrac) * col("n_docs") - slack)))
        .as("thr_rank_ok"),
      (abs(col("n_kept") - lit(keepFrac) * col("n_docs"))
        <= lit(2.0) * slack + 2).as("keep_frac_ok"))
  }

  /** First-iteration BPE merge candidates — tokenizer induction's
    * opening move: the corpus-wide most frequent ADJACENT CHARACTER
    * pairs inside tokens (Sennrich et al. 2016 counts exactly these to
    * pick each merge). Same shape as [[topkNgramsDocs]] one level down:
    * per-token pair explode → partial-agg count → TakeOrdered top-k with
    * a total (count desc, pair asc) order. */
  def bpeMergeCandidates(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair"))
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("term"))
      .where(length(col("term")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "pair", "n")
  }

  /** Exact heavy hitters: every token whose corpus frequency clears the
    * φ = 1/k share threshold (cnt·k ≥ total — pure integer comparison,
    * no float share). One partial-aggregated groupBy over the token
    * stream; the total comes from summing the AGGREGATED term table (a
    * vocab-sized input), broadcast as a one-row cross join — no second
    * corpus scan, no collect. The result is tiny (≤ k rows by the
    * pigeonhole bound), but the shuffle still carries the full distinct
    * vocabulary — which is what [[heavyHittersSketch]] removes. */
  def heavyHitters(s: SparkSession, d: String, k: Int = 30): DataFrame = {
    // session-memoized count side (r17): the vocab-sized term-count
    // table is the whole cost of this gate; the φ-threshold cut over it
    // is a broadcast-scalar filter (identical integers → identical rows)
    val counts = memoTermCounts(s, d).select(col("term"), col("c").as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(tot))
      .where(col("cnt") * k >= col("total"))
      .select(col("term"), col("cnt"), col("total"))
  }

  /** [[heavyHitters]] over an arbitrary (doc_id, text) frame. */
  def heavyHittersDocs(docs: DataFrame, k: Int = 30): DataFrame = {
    val counts = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum("cnt").as("total"))
    counts.crossJoin(broadcast(tot))
      .where(col("cnt") * k >= col("total"))
      .select(col("term"), col("cnt"), col("total"))
  }

  /** Misra-Gries sketch form of [[heavyHitters]] — the 100 TB shape when
    * the distinct vocabulary itself is too large to shuffle (web-scale
    * n-grams, URLs, user ids): each partition keeps at most k running
    * counters (decrement-all when full), so candidate generation is a
    * NARROW pass emitting ≤ k terms per partition. The MG guarantee —
    * any item with local share > 1/(k+1) survives its partition, and a
    * global φ=1/k item must clear that share in ≥ 1 partition — makes
    * the union a SUPERSET of the true heavy hitters; a second pass
    * recounts ONLY the candidates exactly (broadcast semi-join filter
    * before the groupBy, so the shuffle carries ≤ k·partitions terms,
    * not the vocabulary). Candidates below the threshold are discarded
    * by the same integer comparison as the exact form — so the output
    * EQUALS [[heavyHitters]] row for row, and both share one oracle:
    * a sketch whose false positives are verified away, not approximated
    * away. The corpus total is a grouping-free count over the token
    * stream (partial longs, no shuffle) — the candidate recount can't
    * supply it because it only covers candidates. */
  def heavyHittersSketch(s: SparkSession, d: String, k: Int = 30): DataFrame =
    heavyHittersSketchDocs(Tables.documents(s, d), k)

  /** [[heavyHittersSketch]] over an arbitrary (doc_id, text) frame. */
  def heavyHittersSketchDocs(docs: DataFrame, k: Int = 30): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(explode(tokens(col("text"))).as("term"))
    val candidates = toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < k => counters(t) = 1L
          case None =>
            // decrement-all: drop every counter by 1, evict zeros
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.foreach { case (key, c) =>
              if (c == 1L) dead += key else counters(key) = c - 1
            }
            dead.foreach(counters.remove)
        }
      }
      counters.keysIterator
    }.distinct().toDF("term")
    val recount = toks
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("total"))
    recount.crossJoin(broadcast(tot))
      .where(col("cnt") * k >= col("total"))
      .select(col("term"), col("cnt"), col("total"))
  }

  /** Okapi BM25 scoring of every document against a FIXED query term set
    * — the classic sparse-retrieval ranking (k1 tf saturation, b length
    * normalization, log-odds idf with the +1 floor that keeps common
    * terms non-negative). Corpus statistics (df per query term, doc
    * count, mean doc length) are aggregates broadcast as one-row /
    * |query|-row frames; per-doc tf for the query terms comes from a
    * pre-filtered token stream (the isin filter reaches the scan, so at
    * 100 TB the tf shuffle carries query-term occurrences only, not the
    * corpus). The final score sums per-term contributions in a FIXED
    * column order (one conditional-max column per query term — never a
    * float sum whose order the engine picks), so the rounded score is
    * cross-engine exact. Only docs containing ≥ 1 query term appear. */
  def bm25(s: SparkSession, d: String,
      query: Seq[String] = Seq("spark", "join", "filter"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // session-memoized doc-length side (r17): per-doc token counts are
    // exactly the n_tokens column of the shared unigram score table
    // (same unfiltered token stream, exact integers), so the gate's
    // second full tokenize+groupBy(doc_id) pass reads the memo instead
    bm25From(Tables.documents(s, d), docTokenCounts(s, d), query, k1, b)

  /** [[bm25]] over an arbitrary (doc_id, text) frame. */
  def bm25Docs(docs: DataFrame, query: Seq[String],
      k1: Double, b: Double): DataFrame =
    bm25From(docs,
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id").agg(count(lit(1)).as("dl")),
      query, k1, b)

  /** The scoring half of [[bm25]] over a prebuilt per-doc length table
    * (doc_id, dl) — shared verbatim by the memo path and the *Docs
    * path. */
  private def bm25From(docs: DataFrame, dl: DataFrame, query: Seq[String],
      k1: Double, b: Double): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_tokens"))
    val tf = toks.where(col("term").isin(query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scoredTerms = tf
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("n_tokens").cast("double") / col("n_docs"))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w", col("idf") * (col("tf") * (k1 + 1.0))
        / (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
    // fixed-order per-term columns, then an EXPLICIT left-to-right sum —
    // the same float-order discipline as the pivot queries
    val perTerm = scoredTerms.groupBy("doc_id")
      .agg(count(lit(1)).as("n_query_terms"),
        query.map(t =>
          coalesce(max(when(col("term") === t, col("w"))), lit(0.0)).as(s"w_$t")): _*)
    perTerm
      .withColumn("bm25",
        round(query.map(t => col(s"w_$t")).reduceLeft(_ + _), 6))
      .select(col("doc_id") +: col("n_query_terms") +:
        query.map(t => round(col(s"w_$t"), 6).as(s"w_$t")) :+ col("bm25"): _*)
  }

  /** Corpus-wide top-k most frequent word n-grams — the vocabulary /
    * collocation report a training-data pipeline publishes next to the
    * corpus stats (and the raw input for stop-n-gram lists). Rank ties
    * break on the gram string so the result is total-ordered.
    *
    * Scale shape: one partial-aggregated groupBy on the gram (map-side
    * combine absorbs the per-doc repetition), then TakeOrderedAndProject
    * for the global top-k — the rank window runs AFTER the limit, over k
    * rows on one partition, never over the corpus. */
  def topkNgrams(s: SparkSession, d: String, n: Int = 2, k: Int = 20): DataFrame =
    topkNgramsDocs(Tables.documents(s, d), n, k)

  /** Statistical language-model quality proxy (the CCNet/perplexity-filter
    * recipe with the corpus itself as the LM): per document, the mean
    * unigram log-probability of its tokens under the corpus unigram
    * distribution. Gibberish / rare-vocabulary docs score far below
    * common-vocabulary prose, giving a quality axis independent of the
    * length/stopword/repetition gates.
    *
    * Scale shape: term counts are one partial-aggregated groupBy; scores
    * attach back by an equi-join from token occurrences to the AGGREGATED
    * term table (1:1 output per occurrence — a hot term skews the probe
    * side only, which AQE handles); the per-doc mean is another partial
    * agg. The reported mean carries a round(·, 6) key: it sums ~doc-length
    * ln() doubles whose order no engine pins (same accepted class as the
    * q_tfidf scores). */
  def unigramLogProb(s: SparkSession, d: String): DataFrame =
    // session-memoized (r17): q_unigram_logprob, q_quality_prune and
    // q_quality_prune_sketch all consume this exact frame (the sketch
    // twice — both sides of its threshold); one build serves all
    memoUnigramScores(s, d)

  /** [[unigramLogProb]] over an arbitrary (doc_id, text) frame. */
  def unigramLogProbDocs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tc = toks.groupBy("term").agg(count(lit(1)).as("c"))
    // total token count from the TERM table (Σc — exact integer sum over
    // vocab-sized input), not a third scan+tokenize of the corpus
    val tot = tc.agg(sum("c").as("n"))
    toks.join(tc, Seq("term")).crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(log(col("c").cast("double") / col("n"))) / count(lit(1)), 6)
          .as("avg_logprob"))
  }

  /** Bigram conditional-LM quality score — one rung up from
    * [[unigramLogProb]]: per document, the mean ln p(w2|w1) of its
    * adjacent token pairs under the corpus MLE bigram model
    * (p(w2|w1) = c(w1 w2) / c(w1·), with c(w1·) the bigram-PREFIX count,
    * so probabilities per prefix sum to exactly 1 and no smoothing is
    * needed — every document bigram occurs in the corpus counts at least
    * once by construction). Fluent word-order prose scores higher than
    * shuffled-vocabulary text that unigram scoring cannot tell apart.
    * Domain: docs with ≥ 2 tokens.
    *
    * Scale shape: identical to the unigram form — bigram and prefix
    * counts are partial-aggregated groupBys, scores attach back by
    * equi-joins from occurrences to the AGGREGATED count tables, the
    * per-doc mean is another partial agg. round(·, 6) on the mean for
    * the cross-engine float-sum-order hazard. */
  def bigramLogProb(s: SparkSession, d: String): DataFrame = {
    // session-memoized count side (r17, shared with q_collocations):
    // the pair-count table reads the memo, the prefix counts roll up
    // from it (Σ_w2 c_xy(w1,·) — identical integers to the direct
    // groupBy(w1) count over the bigram stream), and only the per-doc
    // probe side still walks the corpus — one tokenize pass per call
    // instead of three (the c2/c1/probe subtrees each re-derived it)
    val c2 = memoBigramCounts(s, d)
      .select(col("w1"), col("w2"), col("c_xy").as("c2"))
    val c1 = memoBigramCounts(s, d)
      .groupBy("w1").agg(sum("c_xy").as("c1"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
    val bg = toks.select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log(col("c2").cast("double") / col("c1"))) / count(lit(1)), 6)
          .as("avg_bigram_logprob"))
  }

  /** [[bigramLogProb]] over an arbitrary (doc_id, text) frame. */
  def bigramLogProbDocs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
    val bg = toks.select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log(col("c2").cast("double") / col("c1"))) / count(lit(1)), 6)
          .as("avg_bigram_logprob"))
  }

  /** [[topkNgrams]] over an arbitrary (doc_id, text) frame — the testable
    * form. Domain: docs with >= max(3, n) tokens (>= 3 keeps the n=2
    * default aligned with the repetition-stats domain and its oracle;
    * wider grams raise the guard so short docs never hit the window
    * expression). */
  def topkNgramsDocs(docs: DataFrame, n: Int = 2, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("gram"))
    grams(docs, n, minTokens = math.max(3, n))
      .groupBy(col("sh").as("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "gram", "n")
  }

  /** N-gram novelty scoring: for each document, the fraction of its
    * distinct 3-token shingles whose GLOBAL first occurrence (min doc_id
    * over all docs containing the shingle) is this document. A crawl
    * ordered by acquisition time reads this as "how much text did this
    * page add that the corpus hadn't seen" — the attribution twin of the
    * duplicate-span report (which finds the copies; this scores the
    * originals). Shape: distinct shingles per doc (map-side), one
    * groupBy(shingle) min-aggregate for the first-occurrence index, one
    * equi-join back on shingle, one per-doc rollup — all linear shuffles
    * on bounded rows, no pair join, so the pass costs the same as the
    * dedup family's inverted index at any scale. */
  def ngramNovelty(s: SparkSession, d: String, n: Int = 3): DataFrame =
    // rides the ngram family's memoized hashed shingle stream (r17): one
    // tokenize+window pass per session, and the groupBy+join shuffles
    // carry 8-byte longs instead of ~25-char strings
    noveltyFromShingles(graft.operators.Dedup.memoShingleStream(s, d, n))

  /** [[ngramNovelty]] over an arbitrary (doc_id, text) frame. */
  def ngramNoveltyDocs(docs: DataFrame, n: Int = 3): DataFrame =
    noveltyFromShingles(
      docs.select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= n)
        .select(col("doc_id"),
          explode(array_distinct(tokenWindows(col("toks"), n))).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("sh")))

  /** First-occurrence attribution over a (doc_id, shingle-hash) stream.
    * Shingles group/join as xxhash64 INT64 keys — same 8-byte shuffle
    * trick and the same negligible-collision contract as
    * `Dedup.rarePostings` (the emitted columns are per-doc COUNTS, so the
    * string-keyed DuckDB oracle replays them exactly absent collisions). */
  private def noveltyFromShingles(sh: DataFrame): DataFrame = {
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(first, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  /** Temperature-scaled mixture weights per language: w_l ∝ p_l^α with
    * p_l = token share, α < 1 flattening the head (the standard
    * multilingual sampling schedule — α ≈ 0.3 keeps low-resource
    * languages from vanishing under proportional sampling). Each p^α is
    * rounded to 6 decimals and summed as DECIMAL(18,6), so the
    * normalizer is order-independent and the final weights are the same
    * correctly-rounded double chain in both engines. `planned_docs` is
    * the per-language allocation of a `budgetDocs`-document epoch.
    * Shape: one groupBy(lang) + two broadcast scalar joins — the whole
    * schedule derives from a handful of aggregate rows regardless of
    * corpus size. */
  def mixTemperature(s: SparkSession, d: String, alpha: Double = 0.3,
      budgetDocs: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perLang = Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val total = perLang.agg(sum("n_tokens").as("total_tokens"))
    val raw = perLang.crossJoin(broadcast(total))
      .withColumn("w_raw",
        round(pow(col("n_tokens").cast("double") / col("total_tokens"), alpha), 6)
          .cast(DecimalType(18, 6)))
    val z = raw.agg(sum("w_raw").as("z"))
    raw.crossJoin(broadcast(z))
      .withColumn("weight",
        round(col("w_raw").cast("double") / col("z").cast("double"), 6))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("weight"),
        floor(col("weight") * budgetDocs).cast("long").as("planned_docs"))
  }

  /** CountMin sketch of the term-frequency stream: a depth × width
    * counter grid (seeded Murmur3 rows), point estimate = min over the
    * depth cells — the mergeable fixed-size frequency summary for when
    * even Misra-Gries' k·partitions candidate set is too wide (streaming
    * joins against a frequency prior, per-shard quota enforcement). The
    * sketch build is ONE aggregate pass: each term explodes into its
    * `depth` cells and the grid is a groupBy over ≤ depth·width rows.
    * The gate row probes the k most frequent terms (deterministic
    * count-desc/term-asc top-k) and carries (n_exact, n_est, overcount)
    * side by side; RoundNineOpsSpec asserts the one-sided contract
    * (est ≥ exact, overcount ≤ εN at the classic ε = e/width). No DuckDB
    * oracle: Murmur3 cell placement is JVM-specific (same no-oracle
    * class as minhash). */
  def countMinProbe(s: SparkSession, d: String, width: Int = 2048,
      depth: Int = 4, k: Int = 20): DataFrame =
    countMinProbeDocs(Tables.documents(s, d), width, depth, k)

  /** Oracle-able verdict form of [[countMinProbe]] — the gate query.
    * The estimate's VALUE is Murmur3-cell-placed (JVM-side, no
    * cross-engine oracle), but the sketch's contract is engine-free:
    * est ≥ exact always (counters only ever overcount), and
    * overcount ≤ εN at the classic ε = e/width for the probed heavy
    * hitters. The gate emits the exact top-k counts (oracle-computable:
    * deterministic count-desc/term-asc cut) beside the two verdicts,
    * which the DuckDB oracle pins to literal TRUE — the q_hll_merge
    * gate-evidence pattern: a broken sketch flips a boolean and the row
    * hash. N rides in as a broadcast single-row aggregate. */
  def countMinChecked(s: SparkSession, d: String, width: Int = 2048,
      depth: Int = 4, k: Int = 20): DataFrame = {
    val docs = Tables.documents(s, d)
    val tot = docs.select(sum(size(tokens(col("text")))).cast("long").as("n_tok"))
    countMinProbeDocs(docs, width, depth, k)
      .crossJoin(broadcast(tot))
      .select(col("term"), col("n_exact"),
        (col("n_est") >= col("n_exact")).as("est_ge_exact"),
        (col("overcount").cast("double")
          <= lit(math.E / width) * col("n_tok")).as("within_eps"))
  }

  /** [[countMinProbe]] over an arbitrary (doc_id, text) frame. */
  def countMinProbeDocs(docs: DataFrame, width: Int = 2048, depth: Int = 4,
      k: Int = 20): DataFrame = {
    def cellsOf(term: Column): Column = array((0 until depth).map { r =>
      struct(lit(r).as("r"), pmod(hash(term, lit(r)), lit(width)).as("b"))
    }: _*)
    val grid = docs.select(explode(tokens(col("text"))).as("term"))
      .select(explode(cellsOf(col("term"))).as("cell"))
      .groupBy(col("cell.r").as("r"), col("cell.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val probes = docs.select(explode(tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("term"))
      .limit(k)
    probes
      .select(col("term"), col("n_exact"), explode(cellsOf(col("term"))).as("cell"))
      .select(col("term"), col("n_exact"),
        col("cell.r").as("r"), col("cell.b").as("b"))
      .join(broadcast(grid), Seq("r", "b"))
      .groupBy("term", "n_exact")
      .agg(min("c").as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
  }

  /** Quality-signal ENSEMBLE report: the per-document quality axes
    * ([[textStats]]' length / alpha-ratio / stopword-ratio signals)
    * folded into one weighted score, histogrammed into fixed-width
    * score buckets — the "where does my corpus sit on the combined
    * quality axis" report run before choosing a pruning threshold.
    * Buckets are `floor(score·10)` (clamped), NOT ntile deciles: a
    * fixed-width bucket is per-row and shuffle-free where a decile
    * needs a global ordered window — the same global-sort avoidance as
    * the sketch quality gate. Every signal is a ratio of exact integer
    * counts and the score/bucket chain is one fixed expression tree, so
    * the report oracles bit-for-bit; per-bucket avg goes through the
    * DECIMAL-exact sum of the 6-dp-rounded score. */
  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val perDoc = Tables.documents(s, d).select(
      col("doc_id"),
      least(lit(1.0), length(col("text")).cast("double") / 1000.0).as("len_score"),
      (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
        / length(col("text"))).as("alpha_ratio"),
      (hits(t, stopEn).cast("double") / nTok).as("stop_ratio"))
      .withColumn("score",
        lit(0.25) * col("len_score") + lit(0.4) * col("alpha_ratio")
          + lit(0.35) * col("stop_ratio"))
      .withColumn("bucket", least(lit(9L), floor(col("score") * 10)))
    perDoc.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(round(col("score"), 6)).as("min_score"),
        max(round(col("score"), 6)).as("max_score"),
        (sum(round(col("score"), 6).cast(DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("avg_score"))
  }

  /** Corpus DRIFT report: the top-N tokens whose unigram probability
    * differs most between two corpus halves — the distribution-shift
    * check run before mixing a new crawl snapshot into a training mix
    * (did the token distribution move, and on which tokens?). The
    * ranking key is the cross-multiplied integer
    * |cnt_a·tot_b − cnt_b·tot_a| (∝ |p_a − p_b| at a common
    * denominator), so ordering and the top-N cut are exact int64
    * arithmetic on both engines — no float comparison anywhere near the
    * cut (int64 is safe through ~10⁹-token halves; beyond that, scale
    * counts to per-million before ranking). Shape: one token groupBy
    * with both half-counts as conditional sums (ONE shuffle, partial
    * aggregation), totals as a broadcast 1-row aggregate, top-N via
    * TakeOrderedAndProject — no global sort. */
  def corpusDrift(s: SparkSession, d: String, topN: Int = 20): DataFrame =
    corpusDriftDocs(Tables.documents(s, d), topN)

  /** [[corpusDrift]] over an arbitrary (doc_id, text) frame; half A =
    * even doc_id (a stable hash split would serve for real snapshots —
    * the halving is a parameter of the report, not the mechanism). */
  def corpusDriftDocs(docs: DataFrame, topN: Int = 20): DataFrame = {
    val toks = docs
      .select((col("doc_id") % 2 === 0).as("half_a"),
        explode(tokens(col("text"))).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("half_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("half_a"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"),
      sum(col("cnt_b")).as("tot_b"))
    counts.crossJoin(broadcast(totals))
      .withColumn("score",
        abs(col("cnt_a") * col("tot_b") - col("cnt_b") * col("tot_a")))
      .orderBy(col("score").desc, col("token"))
      .limit(topN)
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        (col("cnt_a").cast("double") / col("tot_a")).as("p_a"),
        (col("cnt_b").cast("double") / col("tot_b")).as("p_b"),
        col("score"))
  }

  /** Tokenize-to-ids: build a top-`vocabSize` frequency vocabulary
    * (rank by count desc, term asc — total order) and map every document
    * to its id sequence (`0` = OOV/UNK), the last transform before rows
    * leave the engine for a training loader.
    *
    * Scale shape: the vocabulary cut is `orderBy(...).limit(V)` — a
    * TakeOrderedAndProject (per-partition top-V heaps, V rows to the
    * driver side of the exchange), NOT a global sort; the only
    * unpartitioned `row_number` window runs over exactly V rows to
    * assign ids. The mapping join broadcasts the V-row vocabulary, so
    * the corpus-side pass is scan-speed: posexplode → broadcast hash
    * join → one groupBy(doc_id) to reassemble positions. The id arrays
    * come back position-ordered via array_sort over (pos, id) structs —
    * no per-doc window. */
  def tokenizeIds(s: SparkSession, d: String, vocabSize: Int = 64): DataFrame =
    // session-memoized count side (r17): the vocabulary cut reads the
    // shared term-count table; the corpus-side posexplode+broadcast-join
    // mapping pass is the gate's own remaining work
    tokenizeIdsFrom(Tables.documents(s, d),
      memoTermCounts(s, d).select(col("term"), col("c")), vocabSize)

  def tokenizeIdsDocs(docs: DataFrame, vocabSize: Int = 64): DataFrame =
    tokenizeIdsFrom(docs,
      docs.select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c")), vocabSize)

  private def tokenizeIdsFrom(docs: DataFrame, counts: DataFrame,
      vocabSize: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val wId = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("term").asc) // over <= vocabSize rows
    val vocab = counts.orderBy(col("c").desc, col("term").asc).limit(vocabSize)
      .withColumn("id", row_number().over(wId))
      .select("term", "id")
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("id"), lit(0)).as("id")))),
          x => x.getField("id")).as("ids"))
  }

  /** PMI collocation mining: bigrams whose corpus count clears minCount,
    * scored by pointwise mutual information ln(p(xy)/(p(x)p(y))) — the
    * classic "which word pairs travel together" signal a tokenizer/
    * phrase-merge pass (word2phrase) thresholds on.
    *
    * Two partial-aggregated groupBys over the bigram stream (pair
    * counts, unigram counts) + two broadcast joins of the vocab-sized
    * count tables; the corpus-wide totals N (tokens) and M (bigrams)
    * ride in as a broadcast single-row aggregate (the scalar-threshold
    * pattern). PMI decomposes into SIX ln() terms summed in one fixed
    * left-to-right tree — each ln() of an exact integer, so the double
    * is bit-identical cross-engine (the [[typeEntropy]] discipline);
    * round(6) belts-and-braces the report. No top-k float cut: the
    * emitted set is decided by the INTEGER minCount threshold alone. */
  def collocationsPmi(s: SparkSession, d: String, minCount: Long = 5L): DataFrame =
    // session-memoized count sides (r17): both corpus passes (unigram
    // stream, bigram stream) read the shared count tables — identical
    // integers, so the six-ln fixed-order tree is bit-identical. The
    // memos are eagerly-checkpointed vocab-/vocab²-bounded frames, so
    // the per-call cache+release dance of the unmemoized form (and its
    // eager localCheckpoint) is no longer needed — the returned plan is
    // joins over checkpoint scans.
    collocationsFromCounts(
      memoTermCounts(s, d).select(col("term").as("w"), col("c").as("cw")),
      memoBigramCounts(s, d), minCount)

  def collocationsPmiDocs(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    // exactly TWO corpus passes (unigram stream, bigram stream); the
    // totals N and M derive from the cached vocab-sized count tables —
    // never a third tokenize (the q_pack_greedy lesson). Both caches
    // are vocab-/vocab²-bounded, OWNED here: the result is materialized
    // eagerly (localCheckpoint, vocab²-bounded) so both can be released
    // in the finally instead of escaping into the returned lazy plan
    // (the cache-ownership hazard class, VERDICT r5 #3).
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw")).cache()
    val bgCounts = toks.where(size(col("t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy")).cache()
    try collocationsFromCounts(uni, bgCounts, minCount).localCheckpoint(true)
    finally {
      uni.unpersist()
      bgCounts.unpersist()
    }
  }

  /** The PMI scoring half of [[collocationsPmi]] over prebuilt unigram
    * (w, cw) and bigram (w1, w2, c_xy) count tables — the expression
    * tree is shared verbatim by the memo path and the *Docs path. */
  private def collocationsFromCounts(uni: DataFrame, bgCounts: DataFrame,
      minCount: Long): DataFrame = {
    val totals = uni.agg(sum("cw").as("n_tok"))
      .crossJoin(bgCounts.agg(sum("c_xy").as("n_big")))
    bgCounts
      .where(col("c_xy") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("cw").as("c_w1"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("cw").as("c_w2"))),
        Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log(col("c_xy").cast("double")) - log(col("n_big").cast("double"))
          - log(col("c_w1").cast("double")) + log(col("n_tok").cast("double"))
          - log(col("c_w2").cast("double")) + log(col("n_tok").cast("double")),
        6))
      .select("w1", "w2", "c_xy", "c_w1", "c_w2", "pmi")
  }
}
