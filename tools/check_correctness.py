"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` DuckDB
equivalent at sf0.01 and compares row count, column names, and
order-insensitive values. Usage:

    python tools/check_correctness.py [--exact] [--json OUT.json] [query ...]

``--exact`` compares values bit-exactly (atol=0) and reports dtype
drift (e.g. DuckDB HUGEINT -> pandas float/object vs Spark BIGINT) —
the representation-level differences the driver's value hash sees but
the default 1e-6 comparison forgives.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def normalize(df: pd.DataFrame, exact: bool = False) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif exact:
            continue  # keep raw dtype + values: surface representation drift
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> int:
    argv = sys.argv[1:]
    exact = "--exact" in argv
    hostile = "--hostile" in argv
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    only = set(a for a in argv if a not in ("--exact", "--hostile"))
    results: dict[str, dict] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = eng.get_spark()
    if hostile:
        # the hostile-harness profile from tests/test_hostile_session:
        # a session the engine's factory never touched
        spark = spark.newSession()
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        print("HOSTILE session: Asia/Shanghai timezone, 7 shuffle partitions")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "reason": f"spark error {type(e).__name__}"}
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle, rows-only) [{el:.1f}s]")
            if len(sdf) == 0:
                print(f"      WARNING {name}: zero rows")
            results[name] = {"status": "rows_only", "rows": len(sdf), "sec": round(el, 2)}
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error {e}")
            failures.append(name)
            results[name] = {"status": "fail", "reason": "oracle error"}
            continue
        s, o = normalize(sdf, exact), normalize(odf, exact)
        if list(s.columns) != list(o.columns):
            print(f"FAIL  {name}: columns {list(s.columns)} vs {list(o.columns)}")
            failures.append(name)
            results[name] = {"status": "fail", "reason": "schema mismatch"}
            continue
        if len(s) != len(o):
            print(f"FAIL  {name}: rowcount {len(s)} vs {len(o)}")
            failures.append(name)
            results[name] = {"status": "fail", "reason": f"rowcount {len(s)} vs {len(o)}"}
            continue
        if exact:
            drift = [
                f"{c}: spark={s[c].dtype} oracle={o[c].dtype}"
                for c in s.columns
                if str(s[c].dtype) != str(o[c].dtype)
            ]
            if drift:
                print(f"FAIL  {name}: dtype drift — {'; '.join(drift)}")
                failures.append(name)
                results[name] = {"status": "fail", "reason": "dtype drift"}
                continue
        try:
            if exact:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            else:
                pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, atol=1e-6)
            print(f"OK    {name}: {len(s)} rows match [{el:.1f}s]")
            results[name] = {
                "status": "ok", "rows": len(s), "sec": round(el, 2),
                "compare": "exact" if exact else "atol1e-6",
            }
        except AssertionError as e:
            msg = str(e).splitlines()
            print(f"FAIL  {name}: value mismatch: {' | '.join(msg[:4])}")
            diff = (s != o) & ~(s.isna() & o.isna())
            bad_cols = [c for c in s.columns if diff[c].any()]
            for c in bad_cols[:3]:
                idx = diff[c].idxmax()
                print(f"      col={c} first-diff row {idx}: spark={s.loc[idx, c]!r} oracle={o.loc[idx, c]!r}")
            failures.append(name)
            results[name] = {"status": "fail", "reason": "value mismatch"}
    spark.stop()
    if json_out:
        summary = {
            "sf_dir": SF_DIR,
            "mode": ("exact" if exact else "atol1e-6") + ("+hostile" if hostile else ""),
            "n_queries": len(results),
            "n_ok": sum(1 for r in results.values() if r["status"] == "ok"),
            "n_rows_only": sum(1 for r in results.values() if r["status"] == "rows_only"),
            "n_fail": len(failures),
            "queries": results,
        }
        with open(json_out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
