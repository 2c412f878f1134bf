"""Local simulation of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB (sf0.01 by default), then compares row count, column-name
set, and order-insensitive values (columns sorted by name, rows sorted by
all columns, exact equality after dtype normalization). Exit code 0 iff
everything matches.

Usage: python tools/check_correctness.py [--sf-dir DIR] [--only name1,name2]
                                         [--json PATH]

`--json PATH` additionally writes a machine-readable ledger (one entry
per checked query: rows/schema/values match flags, row counts, elapsed,
error text) plus a header with the git commit and timestamp — the
committed artifact form of a full-registry run, so a claim that every
query matches its oracle is checkable without re-running the registry.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s) and not isinstance(s.iloc[0], str):
            try:
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            except (TypeError, ValueError):
                pass
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if problems:
        return problems
    s, o = _normalize(sdf), _normalize(odf)
    for c in s.columns:
        sv, ov = s[c].to_numpy(), o[c].to_numpy()
        if pd.api.types.is_float_dtype(s[c]):
            eq = (sv == ov) | (np.isnan(sv.astype(float)) & np.isnan(ov.astype(float)))
            if not eq.all():
                bad = np.where(~eq)[0][:3]
                diffs = [f"row{j}: {sv[j]!r} vs {ov[j]!r}" for j in bad]
                mx = np.nanmax(np.abs(sv.astype(float) - ov.astype(float)))
                problems.append(f"col {c}: {int((~eq).sum())} diffs (max abs {mx:.3e}) e.g. {diffs}")
        else:
            eq = pd.Series(sv).eq(pd.Series(ov)) | (pd.Series(sv).isna() & pd.Series(ov).isna())
            if not eq.all():
                bad = np.where(~eq.to_numpy())[0][:3]
                diffs = [f"row{j}: {sv[j]!r} vs {ov[j]!r}" for j in bad]
                problems.append(f"col {c}: {int((~eq).sum())} diffs e.g. {diffs}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--json", default=None, help="write a per-query ledger here")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from presto_workload_analyzer_spark.session import get_spark

    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None

    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"WARNING: --only names not in queries(): {sorted(unknown)}")

    n_pass = n_fail = n_rows_only = 0
    ledger: dict[str, dict] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        entry = ledger[name] = {
            "rows_match": False, "schema_match": False, "values_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
            entry["spark_rows"] = len(sdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            entry["err"] = f"spark: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle, rows-only check)")
            entry["err"] = "rows-only (no oracle)"
            n_rows_only += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
            entry["oracle_rows"] = len(odf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {e}")
            entry["err"] = f"oracle: {type(e).__name__}: {e}"
            n_fail += 1
            continue
        problems = _compare(name, sdf, odf)
        dt = time.time() - t0
        entry["rows_match"] = len(sdf) == len(odf)
        entry["schema_match"] = sorted(sdf.columns) == sorted(odf.columns)
        entry["values_match"] = not problems
        entry["elapsed_s"] = round(dt, 2)
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s, {len(sdf)} rows):")
            for p in problems:
                print(f"      {p}")
            entry["err"] = "; ".join(problems)[:500]
            n_fail += 1
        else:
            print(f"MATCH {name} ({dt:.1f}s, {len(sdf)} rows)")
            n_pass += 1

    print(f"\n{n_pass} match, {n_fail} fail, {n_rows_only} rows-only")
    if args.json:
        try:
            commit = subprocess.run(
                ["git", "-C", REPO, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip()
        except Exception:  # noqa: BLE001
            commit = None
        out = {
            "_meta": {
                "sf_dir": args.sf_dir,
                "commit": commit,
                "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "n_match": n_pass, "n_fail": n_fail, "n_rows_only": n_rows_only,
            },
            "queries": ledger,
        }
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"ledger -> {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
