#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, load the Spark result parquet, sort columns by
name + rows, and compare values (exact for non-floats, exact-and-report for
floats). Exits nonzero unless every query in oracle_sql.json is OK; Verify
writes that file for its SPARK_GRAFT_QUERIES subset only."""
import sys, json, math
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE-ERROR {e}"
        continue
    try:
        import glob
        files = glob.glob(f"{outdir}/{name}/*.parquet")
        sdf = pd.concat([pq.read_table(f).to_pandas() for f in files])
    except Exception as e:
        results[name] = f"SPARK-READ-ERROR {e}"
        continue
    o = odf.reindex(sorted(odf.columns), axis=1)
    s = sdf.reindex(sorted(sdf.columns), axis=1)
    if list(o.columns) != list(s.columns):
        results[name] = f"SCHEMA o={list(o.columns)} s={list(s.columns)}"
        continue
    if len(o) != len(s):
        results[name] = f"ROWS o={len(o)} s={len(s)}"
        continue
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    bad = []
    # The driver hashes raw values: an int64 vs float64 column (e.g. DuckDB
    # HUGEINT SUM -> float64 via pandas) hash-mismatches even when equal.
    for c in o.columns:
        ok_, sk_ = o[c].dtype.kind, s[c].dtype.kind
        if {ok_, sk_} == {"i", "f"}:
            bad.append((c, "DTYPE", str(o[c].dtype), str(s[c].dtype)))
    for c in o.columns:
        oc, sc = o[c], s[c]
        # normalize timestamps to ns ints, decimals to float
        try:
            oc = pd.to_datetime(oc) if "datetime" in str(oc.dtype) else oc
        except Exception:
            pass
        for i in range(len(oc)):
            ov, sv = oc.iloc[i], sc.iloc[i]
            if pd.isna(ov) and pd.isna(sv):
                continue
            eq = False
            try:
                if isinstance(ov, float) or isinstance(sv, float):
                    eq = (float(ov) == float(sv)) or (
                        math.isclose(float(ov), float(sv), rel_tol=1e-12, abs_tol=1e-12))
                else:
                    eq = str(ov) == str(sv)
            except Exception:
                eq = str(ov) == str(sv)
            if not eq:
                bad.append((c, i, ov, sv))
                if len(bad) > 3:
                    break
        if len(bad) > 3:
            break
    results[name] = "OK" if not bad else f"VALUES {bad[:3]}"

ok = sum(1 for v in results.values() if v == "OK")
for k, v in sorted(results.items()):
    print(f"{k:24s} {v}")
print(f"\n{ok}/{len(results)} oracle-checked queries OK")
# nonzero unless every checked query matched; checking none is no pass
sys.exit(0 if results and ok == len(results) else 1)
