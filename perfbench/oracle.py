#!/usr/bin/env python3
"""Reference answers for a workload's inputs, computed apart from the
program, and the checks that compare a run's outputs against them.

    python3 perfbench/oracle.py --workload sensor_batch --seed 7

computes, for the inputs of that seed, the DuckDB answer of each checked
operation's gate oracle (`SparkEntry.oracleSql`) and the exact references
for the ANN and dedup checks, and stores their digests in
`.perfbench/data/<workload>-<seed>/oracle-<hash>.json`, where <hash> covers
the oracle SQL and this file. run.py calls the same code and compares a
run's outputs against the stored digests after the timed region.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

TABLES = ["events", "documents", "embeddings"]

# operations whose output is compared with their gate's oracle (gate
# `q_<op>`); minhash_lsh's oracle replays every hash lane in SQL (20 s at
# 500 documents), so it is checked by its exact-duplicate recall instead
DIGESTED = {
    "sensor_batch": ["etl_wide", "lead_window", "resample_30m", "interpolate",
                     "holt_forecast", "ar_forecast"],
    "corpus_prep": ["corpus_clean", "corpus_pack", "pack_greedy", "tfidf",
                    "bloom_decontaminate", "ivf_pq_topk", "maxsim_rescore_adc"],
}
ANN_QUERIES, ANN_K = 10, 5   # Similarity.ivfPqTopK defaults
# IVF-PQ over raw vectors (m=4 sub-quantisers of 16 codes, nprobe=2)
# recovers 0.38-0.44 of the exact top-5 on these inputs; a search that
# ignored the codes or the probes would score about 5/500
ANN_MIN_RECALL = 0.2
PACK_BUDGET = 2048           # Packing.packShards default


def data_dir(workload, seed):
    return os.path.join(ROOT, ".perfbench", "data", f"{workload}-{seed}")


def ensure_inputs(workload, seed):
    d = data_dir(workload, seed)
    if not os.path.exists(os.path.join(d, ".done")):
        gen.generate(workload, seed, d)
        open(os.path.join(d, ".done"), "w").close()
    return d


# ── digests ───────────────────────────────────────────────────────────────

def _norm(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v) if v != v.to_integral_value() else int(v)
        return _norm(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return str(int(v))
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return json.dumps(str(v))


def digest(rel):
    """Order-free digest of a DuckDB relation: column names sorted, values
    normalised (integral numbers compare equal across int and double),
    rows sorted."""
    cols = sorted(rel.columns)
    rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
    lines = sorted("|".join(_norm(x) for x in r) for r in rows)
    h = hashlib.sha256(("|".join(cols) + "\n").encode())
    for line in lines:
        h.update(line.encode() + b"\n")
    return {"digest": h.hexdigest(), "rows": len(rows)}


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ── reference answers ────────────────────────────────────────────────────

def _holt(con, sql):
    """q_holt_forecast's oracle replays the Holt recursion as a recursive
    CTE, which DuckDB runs one iteration per bucket (minutes per seed).
    DuckDB computes the trimmed dense series (every CTE up to `kept`);
    the same left fold then runs here in IEEE doubles."""
    head, sep, _ = sql.partition("rec AS (")
    if not sep:
        raise SystemExit("perfbench: q_holt_forecast oracle has no rec CTE")
    rows = con.sql(head.rstrip().rstrip(",") +
                   "\nSELECT series, list(y ORDER BY jj) AS ys FROM kept GROUP BY series").fetchall()
    out = []
    for series, ys in rows:
        level = ys[0]
        trend = ys[1] - ys[0] if len(ys) > 1 else 0.0
        for y in ys[1:]:
            nl = 0.5 * y + (1 - 0.5) * (level + trend)
            trend = 0.3 * (nl - level) + (1 - 0.3) * trend
            level = nl
        for h in range(1, 7):
            out.append((series, h, level + h * trend, level, trend, len(ys)))
    con.execute("CREATE OR REPLACE TEMP TABLE holt_ref (series BIGINT, step INT, "
                "forecast DOUBLE, level DOUBLE, trend DOUBLE, n_obs INT)")
    if out:
        con.executemany("INSERT INTO holt_ref VALUES (?, ?, ?, ?, ?, ?)", out)
    return con.table("holt_ref")


def _exact_topk(data):
    con = duckdb.connect()
    rows = con.sql(f"SELECT vec_id, embedding FROM read_parquet('{data}/embeddings.parquet') "
                   "ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows])
    e = np.array([r[1] for r in rows], dtype=np.float64)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    top = {}
    for q in range(ANN_QUERIES):
        sims = e @ e[q]
        order = np.lexsort((ids, -np.round(sims, 6)))
        top[str(q)] = [int(ids[i]) for i in order[:ANN_K]]
    return top


def _exact_dup_pairs(data):
    con = duckdb.connect()
    return [list(r) for r in con.sql(
        f"SELECT a.doc_id, b.doc_id FROM read_parquet('{data}/documents.parquet') a "
        f"JOIN read_parquet('{data}/documents.parquet') b "
        "ON a.text = b.text AND a.doc_id < b.doc_id ORDER BY 1, 2").fetchall()]


def oracle_sql(classes):
    path = os.path.join(classes, "oracle_sql.json")
    if not os.path.exists(path):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes), "perfbench.Main",
                        "oracle-sql", path + ".tmp"], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def expected(workload, seed, classes):
    """The stored reference for (workload, seed), computed on first use."""
    data = ensure_inputs(workload, seed)
    sqls = oracle_sql(classes)
    used = {op: sqls[f"q_{op}"] for op in DIGESTED[workload]}
    with open(os.path.abspath(__file__), "rb") as f:
        key = hashlib.sha256(json.dumps(used, sort_keys=True).encode() + f.read()).hexdigest()[:12]
    path = os.path.join(data, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = connect(data)
    ref = {"digests": {}}
    for op, sql in used.items():
        rel = _holt(con, sql) if op == "holt_forecast" else con.sql(sql)
        ref["digests"][op] = digest(rel)
    if workload == "corpus_prep":
        ref["ann_topk"] = _exact_topk(data)
        ref["exact_dup_pairs"] = _exact_dup_pairs(data)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


# ── checks ───────────────────────────────────────────────────────────────

def verify(workload, data, out, ref):
    """Compare a run's outputs (`out/<op>/*.parquet`) with `ref`; return the
    list of failures (empty when every output is correct)."""
    con = connect(data)
    fails = []

    def rel(op):
        files = glob.glob(os.path.join(out, op, "*.parquet"))
        if not files:
            fails.append(f"{op}: no output")
            return None
        r = con.sql(f"SELECT * FROM read_parquet({files!r})")
        r.create_view("cur", replace=True)
        return r

    for op, want in ref["digests"].items():
        r = rel(op)
        if r is not None:
            got = digest(r)
            if got != want:
                fails.append(f"{op}: output differs from the oracle's answer "
                             f"({got['rows']} vs {want['rows']} rows)")

    if workload == "sensor_batch":
        r = rel("gbt_regression")
        if r is not None:
            m = dict(r.fetchall())
            imp = [v for k, v in m.items() if k.startswith("importance_")]
            if not m.get("r2", 2.0) <= 1.0:
                fails.append(f"gbt_regression: r2 {m.get('r2')} > 1")
            if abs(m["rmse"] ** 2 - m["mse"]) > 1e-9 * max(1.0, m["mse"]):
                fails.append("gbt_regression: rmse^2 != mse")
            if len(imp) != 3 or min(imp) < 0 or abs(sum(imp) - 1.0) > 1e-6:
                fails.append(f"gbt_regression: importances {imp} are not a distribution")

    if workload == "corpus_prep":
        r = rel("corpus_clean")
        if r is not None:
            dup = con.sql("SELECT count(*) - count(DISTINCT sha256(d.text)) FROM cur "
                          "JOIN documents d USING (doc_id)").fetchone()[0]
            if dup:
                fails.append(f"corpus_clean: {dup} surviving documents share a hash")
        # a shard holds the documents that START inside its budget window,
        # so it is over budget only if it still is without its last document
        r = rel("corpus_pack")
        if r is not None:
            over = con.sql(f"SELECT count(*) FROM (SELECT sum(n_tokens) - arg_max(n_tokens, doc_id) "
                           f"AS t FROM cur GROUP BY lang, shard) WHERE t >= {PACK_BUDGET}").fetchone()[0]
            if over:
                fails.append(f"corpus_pack: {over} shards over the {PACK_BUDGET}-token budget")
        # a greedy pack exceeds the budget only as a single oversized document
        r = rel("pack_greedy")
        if r is not None:
            over = con.sql(f"SELECT count(*) FROM (SELECT sum(n_tokens) t, count(*) n FROM cur "
                           f"GROUP BY lang, shard, pack) WHERE t > {PACK_BUDGET} AND n > 1").fetchone()[0]
            if over:
                fails.append(f"pack_greedy: {over} packs over the {PACK_BUDGET}-token budget")
        r = rel("minhash_lsh")
        if r is not None:
            found = set(map(tuple, r.project("a_id, b_id").fetchall()))
            missed = [p for p in ref["exact_dup_pairs"] if tuple(p) not in found]
            if missed:
                fails.append(f"minhash_lsh: {len(missed)} exact-duplicate pairs missed")
            bad = con.sql("SELECT count(*) FROM cur WHERE NOT "
                          "(a_id < b_id AND est_jaccard >= 0.6 AND est_jaccard <= 1.0)").fetchone()[0]
            if bad:
                fails.append(f"minhash_lsh: {bad} pairs break the a<b, 0.6<=J<=1 contract")
        r = rel("ivf_pq_topk")
        if r is not None:
            got = {}
            for q, v in r.project("q_id, vec_id").fetchall():
                got.setdefault(str(q), set()).add(v)
            hit = sum(len(got.get(q, set()) & set(v)) for q, v in ref["ann_topk"].items())
            recall = hit / (ANN_QUERIES * ANN_K)
            if recall < ANN_MIN_RECALL:
                fails.append(f"ivf_pq_topk: recall@{ANN_K} {recall:.2f} < {ANN_MIN_RECALL}")
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    ref = expected(a.workload, a.seed, build.build())
    print(json.dumps({op: d["rows"] for op, d in ref["digests"].items()}))


if __name__ == "__main__":
    main()
