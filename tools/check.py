#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <outDir>
Reads <outDir>/<query>/ parquet (written by graft.Verify) and
<outDir>/oracle_sql.json, registers the sfDir tables as DuckDB views,
runs each oracle as plain SQL, and compares (rows, schema-by-name,
values after sorting columns by name and rows by all columns).
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows):
    def key(r):
        return tuple((x is None, str(x)) for x in r)
    return sorted(rows, key=key)

def approx_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracles.items()):
        entry = {}
        try:
            spark_rel = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            spark_cols = sorted(spark_rel.columns)
            spark = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in spark_cols) + f" FROM spark_rel").fetchall()
        except Exception as e:
            results[name] = {"error": f"spark read: {e}"}
            continue
        try:
            ora_rel = con.sql(sql)
            ora_cols = sorted(ora_rel.columns)
            # the driver converts via pandas, where HUGEINT degrades to
            # float64 and hash-mismatches a BIGINT Spark column — flag it
            huge = [c for c, t in zip(ora_rel.columns, ora_rel.types)
                    if str(t) in ("HUGEINT", "UHUGEINT")]
            if huge:
                entry["hugeint_cols"] = huge
            ora = con.sql(
                "SELECT " + ", ".join(f'"{c}"' for c in ora_cols) + " FROM ora_rel").fetchall()
        except Exception as e:
            results[name] = {"error": f"oracle: {e}"}
            continue
        entry["rows_match"] = len(spark) == len(ora)
        entry["schema_match"] = spark_cols == ora_cols
        entry["n_spark"], entry["n_oracle"] = len(spark), len(ora)
        if not entry["schema_match"]:
            entry["spark_cols"], entry["oracle_cols"] = spark_cols, ora_cols
        sv, ov = canon(spark), canon(ora)
        mismatches = []
        exact = True
        if entry["rows_match"] and entry["schema_match"]:
            for i, (r1, r2) in enumerate(zip(sv, ov)):
                for j, (x, y) in enumerate(zip(r1, r2)):
                    if x != y:
                        exact = False
                        if not approx_eq(x, y):
                            mismatches.append({"row": i, "col": spark_cols[j],
                                               "spark": str(x)[:60], "oracle": str(y)[:60]})
                            if len(mismatches) >= 3:
                                break
                if len(mismatches) >= 3:
                    break
        entry["hash_match"] = (entry["rows_match"] and entry["schema_match"]
                               and exact and "hugeint_cols" not in entry)
        entry["approx_match"] = entry["rows_match"] and entry["schema_match"] and not mismatches
        if mismatches:
            entry["mismatches"] = mismatches
        results[name] = entry
    ok = sum(1 for v in results.values() if v.get("hash_match"))
    soft = sum(1 for v in results.values() if v.get("approx_match") and not v.get("hash_match"))
    bad = {k: v for k, v in results.items() if not v.get("approx_match")}
    print(json.dumps(results, indent=1, default=str))
    print(f"\n=== {ok} exact / {soft} approx-only / {len(bad)} failing of {len(results)}")
    for k, v in bad.items():
        print(f"FAIL {k}: " + json.dumps(v, default=str)[:300])

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
