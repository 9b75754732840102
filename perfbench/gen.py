"""Seeded input generators for the benchmark workloads.

Every table is written as one parquet file with one row group, in the
physical shapes the program's loaders (`graft.Tables`) read: int64 keys,
microsecond timestamps without a zone, float32 embedding lists. The same
(workload, seed) always yields byte-identical inputs; sizes do not depend
on the seed, only contents do, so runs with different seeds do the same
amount of work.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sensor_batch: 1000 series x ~100 readings over 8 days = 100 k events
# (sf0.1 has 100 k events over 1500 series, ~67 readings each over 30 days).
SENSOR_SERIES = 1000
SENSOR_READINGS = 100
SENSOR_DAYS = 8

# corpus_prep: 1000 documents, of which 10 % are byte-identical copies of
# another document and 10 % are near-duplicates (one word in twelve
# replaced); 500 embeddings in 16 clusters of six-vector groups. (sf0.01 has
# 500 documents and no byte-identical pair; sf0.1 has 5000 and 8.)
CORPUS_DOCS = 1000
CORPUS_VECS = 500
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [0.5, 0.15, 0.12, 0.13, 0.10]
EMB_DIM = 64
EMB_CLUSTERS = 16

EVENT_TYPES = ["click", "error", "purchase", "view", "signup"]
BASE_WORDS = ["join", "hash", "row", "batch", "scan", "customer", "column",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "data", "table", "agg", "value", "key", "stream", "window",
              "spark", "a", "group", "part", "big", "sort", "query", "fast",
              "the"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "sel", "dar", "gen",
             "bro", "fin", "hal", "kor", "ult", "pes", "qua", "zen", "wir",
             "tum"]
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _write(path, table):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 30)
    os.replace(tmp, path)


def _ts(epoch_us):
    return pa.array(epoch_us.astype("int64"), type=pa.timestamp("us"))


def _events(rng, n_series, per_series, days):
    """A sensor fact in the events schema: one reading stream per series
    (user_id) of 0.5-1.5x `per_series` readings, five sensor kinds
    (event_type), a per-series level times a daily cycle plus noise, and a
    message code in props."""
    counts = rng.integers(per_series // 2, per_series * 3 // 2 + 1, n_series)
    counts = (counts * (n_series * per_series) / counts.sum()).astype(int)
    counts[0] += n_series * per_series - counts.sum()
    n = int(counts.sum())
    user = np.repeat(np.arange(n_series, dtype=np.int64), counts)
    span_us = days * 86400 * 1_000_000
    ts = EPOCH_2024 * 1_000_000 + rng.integers(0, span_us, n)
    level = rng.gamma(2.0, 25.0, n_series)[user]
    amp = rng.uniform(0.0, 0.5, n_series)[user]
    phase = (ts % (86400 * 1_000_000)) / (86400 * 1_000_000) * 2 * np.pi
    value = level * (1 + amp * np.sin(phase)) + rng.exponential(5.0, n)
    value = np.maximum(0.01, np.round(value, 2))
    order = np.lexsort((user, ts))
    etype = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts[order]),
        "user_id": pa.array(user[order]),
        "event_type": pa.array(etype[order]),
        "value": pa.array(value[order]),
        "props": pa.array(props[order]),
    })


def _vocab(rng, lang, size):
    if lang == "en":
        extra = size - len(BASE_WORDS)
        return BASE_WORDS + ["".join(rng.choice(SYLLABLES, 3)) for _ in range(extra)]
    return ["".join(rng.choice(SYLLABLES, rng.integers(2, 4))) + lang
            for _ in range(size)]


def _documents(rng, n, exact_share, near_share):
    """Documents drawn from per-language Zipf vocabularies. A share are
    byte-identical copies of an earlier original, a share are
    near-duplicates (every twelfth word replaced), and one in forty is
    low-quality (digits and punctuation) so the quality filter has work."""
    vocabs = {l: _vocab(rng, l, 300) for l in LANGS}
    zipf = 1.0 / np.arange(1, 301) ** 1.1
    zipf /= zipf.sum()
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_orig = n - n_exact - n_near
    langs, texts = [], []
    for i in range(n_orig):
        lang = LANGS[rng.choice(len(LANGS), p=LANG_WEIGHTS)]
        if i % 40 == 39:
            words = [str(x) for x in rng.integers(0, 10 ** 6, rng.integers(8, 20))]
        else:
            v = vocabs[lang]
            words = [v[j] for j in rng.choice(300, rng.integers(25, 90), p=zipf)]
        langs.append(lang)
        texts.append(" ".join(words))
    for _ in range(n_exact):
        j = int(rng.integers(0, n_orig))
        langs.append(langs[j])
        texts.append(texts[j])
    for _ in range(n_near):
        j = int(rng.integers(0, n_orig))
        words = texts[j].split(" ")
        v = vocabs[langs[j]]
        for k in range(0, len(words), 12):
            words[k] = v[int(rng.integers(0, 300))]
        langs.append(langs[j])
        texts.append(" ".join(words))
    perm = rng.permutation(n)
    langs = [langs[p] for p in perm]
    texts = [texts[p] for p in perm]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{x}" for x in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim, clusters):
    """Unit vectors in `clusters` clusters, each made of tight groups of six
    (noise 0.15 around a group centre that sits 0.6 from its cluster
    centre), so every vector has five clear exact nearest neighbours."""
    centres = rng.normal(0, 1, (clusters, dim))
    groups = (n + 5) // 6
    label_of_group = rng.integers(0, clusters, groups)
    group_centres = centres[label_of_group] + rng.normal(0, 0.6, (groups, dim))
    group = rng.permutation(np.arange(n) // 6)
    v = group_centres[group] + rng.normal(0, 0.15, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label_of_group[group].astype(np.int32)),
    })


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, ["sensor_batch", "corpus_prep"].index(workload)])
    if workload == "sensor_batch":
        _write(f"{out}/events.parquet",
               _events(rng, SENSOR_SERIES, SENSOR_READINGS, SENSOR_DAYS))
    else:
        _write(f"{out}/documents.parquet",
               _documents(rng, CORPUS_DOCS, EXACT_DUP_SHARE, NEAR_DUP_SHARE))
        _write(f"{out}/embeddings.parquet",
               _embeddings(rng, CORPUS_VECS, EMB_DIM, EMB_CLUSTERS))
