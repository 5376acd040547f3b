"""Local replica of the driver's correctness gate: run each
``__spark_entry__.queries()`` entry on Spark and its oracle on DuckDB at
sf0.01, compare row count + column names + order-insensitive values; an
entry without an oracle (rows-only) must build and collect.

Usage: python scripts/check_oracle.py [--sf 0.1] [--json OUT.json] [names...]

``--json OUT.json`` writes the machine-readable self-check artifact
(CORRECTNESS_SELF_rN.json): per-query ``{rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}`` — the driver's CORRECTNESS
record shape — under a per-SF key (``"sf0.01"``/``"sf0.1"``), MERGING into
an existing file so two invocations at different SFs build one artifact
covering both. The driver's own gate caps at 50 queries; this artifact is
the in-repo proof for the full battery."""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry
from ragstudio_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    global SF_DIR
    args = sys.argv[1:]
    names = []
    json_out = None
    i = 0
    while i < len(args):  # --sf 0.1 or --sf=0.1 → run at another SF
        a = args[i]
        if a == "--sf":
            if i + 1 >= len(args):
                sys.exit("usage: check_oracle.py [--sf 0.1] [--json OUT] [names...]")
            SF_DIR = f"/root/testdata/sf{args[i + 1]}"
            i += 2
        elif a.startswith("--sf="):
            SF_DIR = f"/root/testdata/sf{a.split('=', 1)[1]}"
            i += 1
        elif a == "--json":
            if i + 1 >= len(args):
                sys.exit("usage: check_oracle.py [--sf 0.1] [--json OUT] [names...]")
            json_out = args[i + 1]
            i += 2
        elif a.startswith("--json="):
            json_out = a.split("=", 1)[1]
            i += 1
        elif a.startswith("-"):
            sys.exit(f"unknown flag {a!r}; usage: check_oracle.py "
                     "[--sf 0.1] [--json OUT] [names...]")
        else:
            names.append(a)
            i += 1
    only = set(names)
    spark = get_spark("oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:  # a typo must not yield a vacuous green gate
        sys.exit(f"unknown query names: {sorted(unknown)}")
    failures = []
    records: dict[str, dict] = {}

    def record(name, *, rows_match=False, schema_match=False,
               hash_match=False, spark_rows=None, oracle_rows=None,
               err=None, rows_only=False):
        records[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }
        if rows_only:
            records[name]["rows_only"] = True

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            record(name, err=f"spark: {str(e)[:300]}")
            print(f"[FAIL-spark] {name}: {str(e)[:400]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows")
            record(name, spark_rows=len(got), rows_only=True)
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            record(name, spark_rows=len(got), err=f"duckdb: {str(e)[:300]}")
            print(f"[FAIL-duck] {name}: {str(e)[:400]}")
            continue
        schema_ok = sorted(got.columns) == sorted(exp.columns)
        rows_ok = len(got) == len(exp)
        if not schema_ok:
            failures.append((name, f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"))
            record(name, rows_match=rows_ok, spark_rows=len(got),
                   oracle_rows=len(exp))
            print(f"[FAIL-cols] {name}: {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if not rows_ok:
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            record(name, schema_match=True, spark_rows=len(got),
                   oracle_rows=len(exp))
            print(f"[FAIL-rows] {name}: {len(got)} vs {len(exp)}")
            continue
        g, e = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            record(name, rows_match=True, schema_match=True, hash_match=True,
                   spark_rows=len(got), oracle_rows=len(exp))
            print(f"[OK] {name}: {len(got)} rows")
        except AssertionError as err:
            failures.append((name, "value mismatch"))
            record(name, rows_match=True, schema_match=True,
                   spark_rows=len(got), oracle_rows=len(exp))
            print(f"[FAIL-vals] {name}: {str(err)[:500]}")
    if json_out:
        sf_key = os.path.basename(os.path.normpath(SF_DIR))
        merged = {}
        if os.path.exists(json_out):
            with open(json_out) as f:
                merged = json.load(f)
        # merge WITHIN the SF key too: a subset re-check must update its
        # own queries without wiping the rest of the full-battery proof
        # (review-found — `merged[sf] = records` destroyed 67 records to
        # record 1)
        merged.setdefault(sf_key, {}).update(records)
        with open(json_out, "w") as f:
            json.dump(merged, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"wrote {json_out} [{sf_key}]: {len(records)} queries "
              f"({len(merged[sf_key])} total at this SF)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[n for n, _ in failures]}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
