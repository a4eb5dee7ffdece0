#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/local_check.py /tmp/vout /root/testdata/sf0.01 [query ...]

Expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have been run
first. Compares each <outDir>/<name> parquet against the DuckDB oracle
in <outDir>/oracle_sql.json: row count, sorted-column schema, and
value hash (columns sorted by name, rows sorted by all columns). Every
query Verify lists in <outDir>/failures.json (it threw, so it wrote no
output) is a FAIL; an output dir a failed query left from an earlier
run is not compared. A query named on the command line that has no
output dir and no failures.json entry is a FAIL too.
"""
import sys, json, glob, os
import duckdb, pandas as pd
import numpy as np

outdir, sfdir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
# Verify's manifest of queries that threw; other writers of an outdir
# (perfbench's gates) have none
manifest = f"{outdir}/failures.json"
failed = json.load(open(manifest)) if os.path.exists(manifest) else {}

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes, rows_only = [], [], []
for name, e in sorted(failed.items()):
    if not only or name in only:
        msg = " ".join(str(e["message"]).split())[:300]
        fails.append((name, f"verify: {e['class']}: {msg}"))
# a named query with neither an output dir nor a failures entry (a typo,
# or a query the writer never ran) must not pass by being skipped
for name in sorted(only):
    if name not in failed and not os.path.isdir(os.path.join(outdir, name)):
        fails.append((name, "no spark output"))
for name in sorted(os.listdir(outdir)):
    path = os.path.join(outdir, name)
    if not os.path.isdir(path) or name in failed:
        continue
    if only and name not in only:
        continue
    parts = glob.glob(f"{path}/*.parquet")
    if not parts:
        fails.append((name, "no spark output"))
        continue
    spark_df = pd.concat([pd.read_parquet(p) for p in sorted(parts)])
    if name not in oracles:
        rows_only.append((name, len(spark_df)))
        continue
    try:
        ora_df = con.execute(oracles[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle error: {e}"))
        continue
    a, b = canon(spark_df.copy()), canon(ora_df.copy())
    if len(a) != len(b):
        fails.append((name, f"rows {len(a)} vs {len(b)}"))
        continue
    if list(a.columns) != list(b.columns):
        fails.append((name, f"schema {list(a.columns)} vs {list(b.columns)}"))
        continue
    mismatch = None
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            av = pd.to_numeric(a[c], errors="coerce").values.astype(np.float64)
            bv = pd.to_numeric(b[c], errors="coerce").values.astype(np.float64)
            # Bitwise compare (modulo NaN payloads): the driver hashes
            # RENDERED values, so -0.0 vs 0.0 is a FAIL there even though
            # -0.0 == 0.0 numerically. Round 14 chased f7/t7 "ghost"
            # hash-fails because this script compared with ==.
            ok = ((av.view(np.uint64) == bv.view(np.uint64))
                  | (np.isnan(av) & np.isnan(bv)))
        else:
            ok = (a[c].astype(str).values == b[c].astype(str).values)
        if not ok.all():
            i = int(np.argmin(ok))
            mismatch = f"col {c} row {i}: {av[i]!r} vs {bv[i]!r}"
            break
    if mismatch:
        fails.append((name, mismatch))
    else:
        passes.append(name)

print(f"PASS ({len(passes)}): {' '.join(passes)}")
print(f"ROWS-ONLY ({len(rows_only)}): "
      + " ".join(f"{n}={r}" for n, r in rows_only))
if fails:
    print(f"FAIL ({len(fails)}):")
    for n, why in fails:
        print(f"  {n}: {why}")
    sys.exit(1)
print("ALL GREEN")
