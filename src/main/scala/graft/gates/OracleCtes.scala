package graft.gates

/** Shared DuckDB oracle CTE blocks (n-gram pair graph, corpus-clean
  * chain, embedding near-dup pairs) used by more than one gate family
  * so the oracle edge sets can never drift between families. Split out
  * of SparkEntry (r8 verdict #7). */
object OracleCtes {

  /** Shared CTE block: the n-gram Jaccard candidate-pair graph over
    * `base` (3-token shingles, df-capped inverted index) — the common
    * prefix of the `q_ngram_jaccard` / `q_dedup_clusters` /
    * `q_dedup_clean` / `q_corpus_clean` oracles, so they stay in
    * lockstep. `base` must expose (doc_id, text). */
  private[gates] def ngramPairCtes(base: String): String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM $base),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS sh
      |  FROM toks WHERE len(t) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
      |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh) WHERE df.df <= 100),
      |pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private[gates] val NgramPairCtes: String = ngramPairCtes("documents")

  /** The 30-min bucket index of `ts`, floored also before 1970 (the
    * `HoltForecast.bucketTable` key; integer `//` truncates toward zero,
    * but the `time_bucket` start is a whole multiple of the divisor). */
  private[gates] val Bucket30m: String =
    "epoch_us(time_bucket(INTERVAL '30 minutes', ts)) // 1800000000"

  /** Shared dense-series CTE block: per-(series = user, 30-min bucket)
    * DECIMAL-exact means over events, filled by the direct-lerp
    * interpolation, re-indexed 0..n−1 per series (`idx(series, y, i,
    * n)`). A bucket with a null mean is a gap, and the series spans its
    * first to last non-null mean. The common input of every
    * forecast-kernel oracle (`q_holt_prep`, `q_holt_forecast`,
    * `q_holt_gridsearch`, `q_hw_seasonal`) — the Spark twin is
    * `HoltForecast.denseTable`: exactAvg →
    * `HoltForecast.interpolateBuckets`. */
  private[gates] val HoltDenseCtes: String =
    s"""m AS (
      |  SELECT user_id AS series, $Bucket30m AS b,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS y
      |  FROM events GROUP BY 1, 2),
      |bounds AS (
      |  SELECT series, min(b) AS mn, max(b) AS mx FROM m WHERE y IS NOT NULL GROUP BY 1),
      |spine AS (SELECT series, unnest(generate_series(mn, mx)) AS b FROM bounds),
      |j AS (
      |  SELECT s.series, s.b, m.y FROM spine s
      |  LEFT JOIN m ON s.series = m.series AND s.b = m.b),
      |x AS (
      |  SELECT series, b, y,
      |    last_value(y IGNORE NULLS) OVER (PARTITION BY series ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
      |    last_value(CASE WHEN y IS NOT NULL THEN b END IGNORE NULLS) OVER (
      |      PARTITION BY series ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_b,
      |    first_value(y IGNORE NULLS) OVER (PARTITION BY series ORDER BY b
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
      |    first_value(CASE WHEN y IS NOT NULL THEN b END IGNORE NULLS) OVER (
      |      PARTITION BY series ORDER BY b
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_b
      |  FROM j),
      |dense AS (
      |  SELECT series, b,
      |    CASE WHEN y IS NOT NULL THEN y
      |         ELSE prev_v + (next_v - prev_v) *
      |           (CAST(b - prev_b AS DOUBLE) / CAST(next_b - prev_b AS DOUBLE))
      |    END AS y
      |  FROM x),
      |idx AS (
      |  SELECT series, y,
      |    row_number() OVER (PARTITION BY series ORDER BY b) - 1 AS i,
      |    count(*) OVER (PARTITION BY series) AS n
      |  FROM dense)""".stripMargin

  /** The τ = 0.12 thresholded pair edges (same filter as
    * `q_ngram_jaccard`'s output) — shared by the reachability and
    * triangle oracles so the edge set can never drift between them. */
  private[gates] val JpairsCte: String =
    """jpairs AS (
      |  SELECT p.a_id, p.b_id FROM pairs p
      |  JOIN sizes sa ON p.a_id = sa.doc_id
      |  JOIN sizes sb ON p.b_id = sb.doc_id
      |  WHERE CAST(p.shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - p.shared AS DOUBLE) >= 0.12)""".stripMargin

  /** Symmetric edge list + recursive reachability over the thresholded
    * pair graph; nodes come from the same `base` as [[ngramPairCtes]]. */
  private[gates] def ngramReachCtes(base: String): String =
    s"""$JpairsCte,
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM jpairs
      |  UNION ALL SELECT b_id, a_id FROM jpairs),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM $base
      |  UNION
      |  SELECT e.dst AS id, reach.r FROM edges e JOIN reach ON e.src = reach.id)""".stripMargin

  private[gates] val NgramReachCtes: String = ngramReachCtes("documents")

  /** The token-budget pack assignment over the cleaned corpus (per-lang
    * running token sum → 2048-token shards) — shared by the
    * q_corpus_pack and q_shard_manifest oracles so the manifest can
    * never drift from the pack assignment. Must follow
    * [[CorpusCleanCtes]] in the WITH list (needs exdedup + keepers). */
  private[gates] val PackCtes: String =
    """surv AS (
      |  SELECT e.doc_id, e.lang,
      |    CAST(len(regexp_extract_all(e.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
      |      AS n_tokens
      |  FROM exdedup e JOIN keepers k ON e.doc_id = k.id),
      |cc AS (
      |  SELECT doc_id, lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM surv),
      |pack AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard
      |  FROM cc)""".stripMargin

  /** The full corpus-clean CTE chain (quality gate → exact dedup →
    * near-dup reachability → keepers) over `documents` — shared by the
    * `q_corpus_clean` / `q_corpus_pack` oracles so the composed recipe's
    * stages can never drift apart. */
  private[gates] val CorpusCleanCtes: String =
    s"""quality AS (
      |  SELECT doc_id, text, lang, n_chars,
      |    len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
      |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
      |      / length(text) AS alpha_ratio
      |  FROM documents),
      |exdedup AS (
      |  SELECT doc_id, text, lang, n_chars, n_tokens FROM (
      |    SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |    FROM quality WHERE n_tokens >= 5 AND alpha_ratio >= 0.5) t
      |  WHERE rn = 1),
      |base AS (SELECT doc_id, text FROM exdedup),
      |${ngramPairCtes("base")},
      |${ngramReachCtes("base")},
      |keepers AS (SELECT id FROM reach GROUP BY id HAVING min(r) = id)""".stripMargin

  /** The deterministic embedding near-dup pair CTEs (norms, id-successor
    * τ sample, √N centroids, nearest-bucket assignment, within-bucket
    * pair cosines) — shared by the q_embed_neardup and q_embed_clusters
    * oracles so the edge set can never drift between them. */
  private[gates] val EmbedPairCtes: String =
    """n AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |succ AS (
      |  SELECT list_sum(list_transform(generate_series(1, 64),
      |    i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON b.vec_id = a.vec_id + 1),
      |tq AS (SELECT round(LEAST(0.95, quantile_cont(cos, 0.99) + 0.0), 4) AS tau_v FROM succ),
      |c AS (
      |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm FROM n
      |  WHERE vec_id < LEAST(4096, GREATEST(4,
      |    CAST(round(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT)))),
      |a AS (
      |  SELECT vec_id, embedding, nrm, c_id AS bucket FROM (
      |    SELECT n.vec_id, n.embedding, n.nrm, c.c_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_sum(list_transform(generate_series(1, 64),
      |          i -> CAST(n.embedding[i] AS DOUBLE) * c.c_emb[i])) / (n.nrm * c.c_nrm) DESC,
      |        c.c_id) AS rn
      |    FROM n, c) t
      |  WHERE rn = 1),
      |p AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) / (a.nrm * b.nrm) AS cos
      |  FROM a JOIN a b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin

  /** SAX words per (event_type, day) — exact cent sums in
    * DECIMAL(38,0), mu/var/z one fixed divide/sqrt tree, z rounded
    * 6 dp BEFORE the ±0.6745 breakpoint compare, var ≤ 0 (flat day)
    * short-circuiting to 'b' ahead of sqrt — shared by `q_sax` and
    * `q_sax_join` so the word table can never drift between the index
    * build and the index use. Terminal CTE: `saxw(event_type, day, n,
    * sax_word)`. The 8 per-segment CASE arms are generated from one
    * template (the q_psi discipline). */
  private[gates] val SaxCtes: String = {
    val ms = (0 to 7).map(i =>
      s"    max(CASE WHEN seg = $i THEN CAST(ssx AS DOUBLE) / sn END) AS m$i")
      .mkString(",\n")
    val arms = (0 to 7).map { i =>
      s"""    CASE WHEN m$i IS NULL THEN '_' WHEN varc <= 0.0 THEN 'b'
         |      WHEN round((m$i - mu) / sqrt(varc), 6) < -0.6745 THEN 'a'
         |      WHEN round((m$i - mu) / sqrt(varc), 6) < 0.0 THEN 'b'
         |      WHEN round((m$i - mu) / sqrt(varc), 6) < 0.6745 THEN 'c'
         |      ELSE 'd' END""".stripMargin
    }.mkString(",\n")
    s"""sax_e AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) // 3 AS seg,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
       |  FROM events),
       |sax_sa AS (
       |  SELECT event_type, day, seg, count(*) AS sn,
       |    sum(CAST(x AS DECIMAL(38,0))) AS ssx
       |  FROM sax_e GROUP BY 1, 2, 3),
       |sax_da AS (
       |  SELECT event_type, day, sum(sn) AS n, sum(ssx) AS sx,
       |$ms
       |  FROM sax_sa GROUP BY 1, 2),
       |sax_sq AS (
       |  SELECT event_type, day,
       |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
       |  FROM sax_e GROUP BY 1, 2),
       |sax_z AS (
       |  SELECT sax_da.*, sax_sq.sxx,
       |    CAST(sx AS DOUBLE) / n AS mu,
       |    CAST(sxx AS DOUBLE) / n
       |      - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS varc
       |  FROM sax_da JOIN sax_sq USING (event_type, day)),
       |saxw AS (
       |  SELECT event_type, day, CAST(n AS BIGINT) AS n,
       |  concat(
       |$arms) AS sax_word
       |  FROM sax_z)""".stripMargin
  }

  /** The SemDeDup oracle CTE chain, parameterized by the cluster-count
    * expression (`q_semdedup`: the √N clamp, `q_semdedup_linear`:
    * `GREATEST(4, count // 25)`). Replays `Dedup.semDedupVecs`'s full
    * deterministic pipeline decision-for-decision:
    * seeds = the nc lowest vec_ids (`Similarity.seedCents`), then TWO
    * unrolled Lloyd rounds (`Similarity.refineLoop` at iters = 2) —
    * assign to nearest centroid by exact double cosine with ties to the
    * lowest c_id (strict `>` first-best scan ≡ row_number ORDER BY sim
    * DESC, c_id), per-(bucket, dim) FLOAT mean of a vec_id-ORDERED
    * double sum (refineLoop sorts each bucket by vec_id before the
    * non-associative double fold — `list(x ORDER BY vec_id)` +
    * `list_sum` replays the identical left-to-right accumulation),
    * empty buckets carrying the previous centroid — then the final
    * assignment and the within-cluster lower-id-partner drop rule at
    * cosine ≥ τ. Terminal CTEs: `af(vec_id, embedding, nrm, bucket)`
    * and `sd_dropped(vec_id, dup_of, n_dups)`. Decision margins that
    * make the hash check safe (both engines also run the identical
    * IEEE sequence) are pinned by SemDedupSpec's fixture-invariant
    * test. */
  private[gates] def semDedupCtes(ncExpr: String, tau: String = "0.95"): String =
    s"""${lloydCtes(ncExpr)},
       |sd_p AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    list_sum(list_transform(generate_series(1, 64),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) / (a.nrm * b.nrm) AS cos
       |  FROM af a JOIN af b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |sd_dropped AS (
       |  SELECT b_id AS vec_id, min(a_id) AS dup_of,
       |    CAST(count(*) AS BIGINT) AS n_dups
       |  FROM sd_p WHERE cos >= $tau GROUP BY b_id)""".stripMargin

  /** Nearest-centroid assignment against centroid CTE `cents(c_id,
    * c_emb, c_nrm)` over `n(vec_id, embedding, nrm)` — cosine argmax,
    * ties to the lowest c_id (Similarity.assignWith's strict-`>`
    * first-best scan). */
  private[gates] def assignCte(name: String, cents: String): String =
    s"""$name AS (
       |  SELECT vec_id, embedding, nrm, c_id AS bucket FROM (
       |    SELECT n.vec_id, n.embedding, n.nrm, c.c_id,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        list_sum(list_transform(generate_series(1, 64),
       |          i -> CAST(n.embedding[i] AS DOUBLE) * c.c_emb[i])) / (n.nrm * c.c_nrm) DESC,
       |        c.c_id) AS rn
       |    FROM n, $cents c) t
       |  WHERE rn = 1)""".stripMargin

  /** The deterministic seeded-Lloyd chain replaying
    * `Similarity.refineCentroids(e, nc, iters = 2)` + the final
    * assignment: norms (`n`), lowest-vec_id seeds (`c0`), two rounds of
    * cosine-argmax assignment + per-(bucket, dim) FLOAT means of
    * vec_id-ORDERED double sums with empty-bucket carry-over (`c1`,
    * `c2`), and the final assignment `af(vec_id, embedding, nrm,
    * bucket)`. Shared by the SemDeDup oracles and the refined-coarse
    * IVF oracles (q_ann_recall, the residual IVF-PQ pair). */
  private[gates] def lloydCtes(ncExpr: String): String = {
    def refine(t: Int, prevC: String, prevA: String): String =
      s"""sd_m$t AS (
         |  SELECT bucket, i,
         |    CAST(list_sum(list(x ORDER BY vec_id)) / count(*) AS FLOAT) AS mf
         |  FROM (
         |    SELECT a.bucket, a.vec_id, g.i, CAST(a.embedding[g.i] AS DOUBLE) AS x
         |    FROM $prevA a, generate_series(1, 64) AS g(i)) s
         |  GROUP BY bucket, i),
         |sd_mv$t AS (
         |  SELECT bucket AS c_id, list(mf ORDER BY i) AS c_emb FROM sd_m$t GROUP BY bucket),
         |c$t AS (
         |  SELECT p.c_id,
         |    COALESCE(m.c_emb, p.c_emb) AS c_emb,
         |    CASE WHEN m.c_emb IS NULL THEN p.c_nrm
         |      ELSE sqrt(list_sum(list_transform(m.c_emb,
         |        v -> CAST(v AS DOUBLE) * v))) END AS c_nrm
         |  FROM $prevC p LEFT JOIN sd_mv$t m ON p.c_id = m.c_id)""".stripMargin
    s"""n AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(generate_series(1, 64),
       |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm FROM n
       |  WHERE vec_id < ($ncExpr)),
       |${assignCte("sd_a1", "c0")},
       |${refine(1, "c0", "sd_a1")},
       |${assignCte("sd_a2", "c1")},
       |${refine(2, "c1", "sd_a2")},
       |${assignCte("af", "c2")}""".stripMargin
  }

  /** The √N-clamped centroid-count expression (`Similarity
    * .centroidCount`). */
  private[gates] val SqrtNcExpr: String =
    "LEAST(4096, GREATEST(4, CAST(round(sqrt((SELECT count(*) FROM embeddings))) AS BIGINT)))"

  /** PQ training + encode chain replaying `Similarity.pqTrain(e, m = 4,
    * k = 16, iters = 3, seedSkip)` + `pqEncode` over a source CTE
    * `$src(vec_id, embedding)` (raw embeddings or IVFADC residuals):
    * per-subspace slices, seeds = the 16 lowest eligible vec_ids'
    * slices (code = seed rank), three Lloyd rounds of L2-argmin
    * assignment (ties to the lowest code — nearestL2's strict-`<`
    * first-best scan) + per-(sub, code, dim) FLOAT means of
    * vec_id-ORDERED double sums with empty-code carry-over, and the
    * final encoding. Terminal CTEs: `pq_cb3(sub, code, cw)` and
    * `pq_enc(vec_id, sub, code, sl)`. */
  private[gates] def pqCtes(src: String, seedSkip: String = "0"): String = {
    val dsub = 16
    def assign(name: String, cb: String): String =
      s"""$name AS (
         |  SELECT vec_id, sub, code, sl FROM (
         |    SELECT s.vec_id, s.sub, c.code, s.sl,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        list_reduce(list_transform(generate_series(1, $dsub),
         |          i -> (CAST(s.sl[i] AS DOUBLE) - c.cw[i]) * (CAST(s.sl[i] AS DOUBLE) - c.cw[i])),
         |          (u, v) -> u + v) ASC,
         |        c.code ASC) AS rn
         |    FROM pq_slices s JOIN $cb c ON c.sub = s.sub) t
         |  WHERE rn = 1)""".stripMargin
    def refine(t: Int): String =
      s"""pq_m$t AS (
         |  SELECT sub, code, i,
         |    CAST(list_sum(list(x ORDER BY vec_id)) / count(*) AS FLOAT) AS mf
         |  FROM (
         |    SELECT a.sub, a.code, a.vec_id, g.i, CAST(a.sl[g.i] AS DOUBLE) AS x
         |    FROM pq_a$t a, generate_series(1, $dsub) AS g(i)) s
         |  GROUP BY sub, code, i),
         |pq_mv$t AS (SELECT sub, code, list(mf ORDER BY i) AS cw FROM pq_m$t GROUP BY sub, code),
         |pq_cb$t AS (
         |  SELECT p.sub, p.code, COALESCE(m.cw, p.cw) AS cw
         |  FROM pq_cb${t - 1} p LEFT JOIN pq_mv$t m ON p.sub = m.sub AND p.code = m.code)""".stripMargin
    s"""pq_subs AS (SELECT unnest(generate_series(0, 3)) AS sub),
       |pq_slices AS (
       |  SELECT vec_id, sub,
       |    list_transform(generate_series(1, $dsub), i -> embedding[sub * $dsub + i]) AS sl
       |  FROM $src, pq_subs),
       |pq_cb0 AS (
       |  SELECT sub,
       |    CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INT) AS code,
       |    sl AS cw
       |  FROM pq_slices WHERE vec_id >= ($seedSkip)
       |  QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= 16),
       |${assign("pq_a1", "pq_cb0")},
       |${refine(1)},
       |${assign("pq_a2", "pq_cb1")},
       |${refine(2)},
       |${assign("pq_a3", "pq_cb2")},
       |${refine(3)},
       |${assign("pq_enc", "pq_cb3")}""".stripMargin
  }

  /** Per-query PQ-ADC lookup tables over `pq_cb3`: one dot product per
    * (query, sub, code) — queries are the `nq` lowest vec_ids of `$qsrc`
    * (which must expose (vec_id, embedding)). Terminal CTE:
    * `pq_qt(q_id, sub, code, dotv)`. */
  private[gates] def pqAdcCte(qsrc: String, nq: Int = 10): String =
    s"""pq_qt AS (
       |  SELECT q.vec_id AS q_id, c.sub, c.code,
       |    list_reduce(list_transform(generate_series(1, 16),
       |      i -> CAST(q.embedding[i + c.sub * 16] AS DOUBLE) * c.cw[i]), (u, v) -> u + v) AS dotv
       |  FROM $qsrc q JOIN pq_cb3 c ON TRUE
       |  WHERE q.vec_id < $nq)""".stripMargin

  // ---- 64-bit wrapping integer arithmetic in DuckDB (r13): the device
  // that makes the JVM-hash gate family (xxhash64 simhash, FNV/splitmix
  // minhash) replayable. Values live as HUGEINT in [0, 2^64); products
  // split 32/32 so nothing exceeds the signed-128 range. ----

  private[gates] val U64: String = "18446744073709551616" // 2^64

  /** (a * b) mod 2^64 — operands must already be < 2^64. */
  private[gates] def u64Mul(a: String, b: String): String =
    s"(((($a // 4294967296 * $b) % 4294967296) * 4294967296" +
      s" + ($a % 4294967296) * $b) % $U64)"

  /** Left-rotate a 64-bit value by r. */
  private[gates] def u64Rotl(x: String, r: Int): String =
    s"(($x * ${1L << r} + $x // ${1L << (64 - r)}) % $U64)"

  /** splitmix64 finalizer (MinHashKernel.mix64) as one expression —
    * `x` must be < 2^64 and should be a COLUMN NAME (the expression
    * references it ~32×; a nested expression argument would compound). */
  private[gates] def mix64Expr(x: String): String = {
    val z0 = s"(($x + 11400714819323198485) % $U64)"
    val z1 = u64Mul(s"xor($z0, $z0 // 1073741824)", "13787848793156543929")
    val z2 = u64Mul(s"xor($z1, $z1 // 134217728)", "10723151780598845931")
    s"xor($z2, $z2 // 2147483648)"
  }

  /** XXH64(seed = 42) — Spark's `xxhash64` — over a string column of
    * ≤ 8 ASCII bytes (the driver corpus' whole token vocabulary is 31
    * words of ≤ 8 ASCII bytes; SimhashRecallSpec pins that invariant so
    * fixture drift fails pointedly). Input CTE `$src(t)`; terminal CTE
    * `xx_h(t, h)` with h the UNSIGNED hash as HUGEINT.
    *
    * DEVICE DOMAIN (r13 verdict #5): 0-8 ASCII bytes, exhaustively
    * replaying XXH64's sub-8-byte finalization (one 8-byte round OR one
    * 4-byte round + up to 3 single-byte rounds + avalanche). 9+ bytes
    * need additional sequential 8-byte loop rounds (and ≥ 32 bytes the
    * four striped accumulator lanes) the chain does not implement —
    * xx_h returns NULL there so misuse fails loudly (a NULL hash can
    * never match Spark's), not as a silently wrong hash.
    * Xxh64DeviceFuzzSpec pins the device itself against Spark's
    * xxhash64 over seeded-random strings across every in-domain length
    * and the out-of-domain NULL guard, via a real DuckDB session.
    *
    * Stages are MATERIALIZED: DuckDB inlines lateral aliases textually,
    * and the chained per-step duplication compounds ~4× per stage — the
    * un-materialized form planned for minutes, these stages bind in
    * milliseconds. */
  private[gates] def xxh64Ctes(src: String): String = {
    val P1 = "11400714785074694791"; val P2 = "14029467366897019727"
    val P3 = "1609587929392839161";  val P4 = "9650029242287828579"
    val P5 = "2870177450012600261"
    val bs = (1 to 8).map(i =>
      s"CASE WHEN length(t) >= $i THEN CAST(ord(substr(t, $i, 1)) AS HUGEINT)" +
        s" ELSE CAST(0 AS HUGEINT) END AS b$i").mkString(",\n    ")
    val k64 = (1 to 8).map(i => s"b$i * ${1L << (8 * (i - 1))}").mkString(" + ")
    val singles = (1 to 3).map { j =>
      val prev = if (j == 1) "xx_s3" else s"xx_t${j - 1}"
      s"""xx_t$j AS MATERIALIZED (
         |  SELECT t, n, sc, sb1, sb2, sb3,
         |    CASE WHEN sc >= $j THEN ${u64Mul(u64Rotl(s"xor(hc${j - 1}, ${u64Mul(s"sb$j", P5)})", 11), P1)}
         |         ELSE hc${j - 1} END AS hc$j
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""xx_b AS MATERIALIZED (
       |  SELECT t,
       |    $bs
       |  FROM $src),
       |xx_s1 AS MATERIALIZED (
       |  SELECT t, b1, b2, b3, b5, b6, b7,
       |    CAST(length(t) AS HUGEINT) AS n,
       |    ($k64) % $U64 AS k64,
       |    b1 + b2 * 256 + b3 * 65536 + b4 * 16777216 AS k32,
       |    CASE WHEN length(t) = 8 THEN 0 WHEN length(t) >= 4 THEN length(t) - 4
       |         ELSE length(t) END AS sc,
       |    (42 + $P5 + CAST(length(t) AS HUGEINT)) % $U64 AS h0
       |  FROM xx_b),
       |xx_s2 AS MATERIALIZED (
       |  SELECT t, n, sc, h0, b1, b2, b3, b5, b6, b7,
       |    ${u64Mul(u64Rotl(u64Mul("k64", P2), 31), P1)} AS r8c,
       |    ${u64Mul("k32", P1)} AS r4a
       |  FROM xx_s1),
       |xx_s3 AS MATERIALIZED (
       |  SELECT t, n, sc,
       |    CASE WHEN n = 8 THEN (${u64Mul(u64Rotl("xor(h0, r8c)", 27), P1)} + $P4) % $U64
       |         WHEN n >= 4 THEN (${u64Mul(u64Rotl("xor(h0, r4a)", 23), P2)} + $P3) % $U64
       |         ELSE h0 END AS hc0,
       |    CASE WHEN n >= 4 THEN b5 ELSE b1 END AS sb1,
       |    CASE WHEN n >= 4 THEN b6 ELSE b2 END AS sb2,
       |    CASE WHEN n >= 4 THEN b7 ELSE b3 END AS sb3
       |  FROM xx_s2),
       |$singles,
       |xx_a1 AS MATERIALIZED (
       |  SELECT t, ${u64Mul("xor(hc3, hc3 // 8589934592)", P2)} AS av2 FROM xx_t3),
       |xx_a2 AS MATERIALIZED (
       |  SELECT t, ${u64Mul("xor(av2, av2 // 536870912)", P3)} AS av4 FROM xx_a1),
       |xx_h AS MATERIALIZED (
       |  SELECT t, CASE WHEN length(t) <= 8 THEN xor(av4, av4 // 4294967296)
       |            ELSE NULL END AS h FROM xx_a2)""".stripMargin
  }

  /** The simhash signature chain (Dedup.simhash replayed): per-doc
    * distinct tokens → xxhash64 per distinct token ([[xxh64Ctes]]) →
    * 64-lane ±1 votes (bit b set ⟺ 2·set_b > n_tok, the strict
    * votes > 0 rule) → the signed signature + the four 16-bit bands
    * taken from the UNSIGNED value (shiftrightunsigned). Terminal CTE:
    * `sh_sig(doc_id, usig, sig, band0..band3)`. */
  private[gates] val SimhashCtes: String = {
    val bitsum = (0 until 64).map(b =>
      s"CAST(sum((h // ${java.lang.Long.toUnsignedString(1L << b)}) % 2) AS HUGEINT) AS s$b")
      .mkString(",\n    ")
    val sigsum = (0 until 64).map(b =>
      s"CASE WHEN 2 * s$b > n_tok THEN CAST(${java.lang.Long.toUnsignedString(1L << b)} AS HUGEINT)" +
        s" ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
    s"""dtok AS (
       |  SELECT DISTINCT doc_id, unnest(list_distinct(
       |    string_split_regex(lower(trim(text)), '\\s+'))) AS t
       |  FROM documents),
       |vocab AS (SELECT DISTINCT t FROM dtok),
       |${xxh64Ctes("vocab")},
       |votes AS (
       |  SELECT d.doc_id, count(*) AS n_tok,
       |    $bitsum
       |  FROM dtok d JOIN xx_h x ON x.t = d.t
       |  GROUP BY d.doc_id),
       |sh_u AS (
       |  SELECT doc_id, ($sigsum) AS usig FROM votes),
       |sh_sig AS (
       |  SELECT doc_id, usig,
       |    CAST(CASE WHEN usig >= 9223372036854775808 THEN usig - $U64
       |      ELSE usig END AS BIGINT) AS sig,
       |    CAST(usig % 65536 AS BIGINT) AS band0,
       |    CAST(usig // 65536 % 65536 AS BIGINT) AS band1,
       |    CAST(usig // 4294967296 % 65536 AS BIGINT) AS band2,
       |    CAST(usig // 281474976710656 % 65536 AS BIGINT) AS band3
       |  FROM sh_u)""".stripMargin
  }
}
