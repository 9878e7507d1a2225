#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every REGISTRY query
on Spark AND its DuckDB oracle at a given sf dir, compare row count, column
names, and order-insensitive values (exact string equality after canonical
formatting — stricter than any plausible driver hash, so passing here should
pass there).

Usage: python tools/check_parity.py [--json OUT.json] [--ansi] [sf_dir] [query ...]

``--json`` persists the per-query verdicts (pass/fail + row counts +
wall seconds) so a full-sweep claim (e.g. COVERAGE.md's sf0.1 72/72) is an
auditable in-repo artifact, not prose (VERDICT r6 #7).

``--ansi`` runs the Spark side with ``spark.sql.ansi.enabled=true`` —
the DRIVER's session is vanilla Spark 4 (ANSI on by default) while the
engine's ``get_spark`` pins ANSI off, so without this flag every local
gate is more permissive than the driver. An ANSI-on sweep catches the
overflow/strict-cast class (VERDICT r10 #1-#3: a sum(xxhash64) BIGINT
overflow passed all ANSI-off gates and failed the driver run). Run once
per round: ``python tools/check_parity.py --ansi --json
PARITY_ansi_sf0.001_rN.json``.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from powerdatapipeline_spark.queries import REGISTRY  # noqa: E402
from powerdatapipeline_spark.session import get_spark  # noqa: E402
from powerdatapipeline_spark.sources.readers import TESTDATA_TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]

    def fmt(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    rows = sorted(tuple(fmt(v) for v in row) for row in df.itertuples(index=False))
    return rows


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_parity.py [--json OUT.json] [sf_dir] "
                  "[query ...]  (--json needs a file path)")
            sys.exit(2)
        json_out = argv[i + 1]
        del argv[i:i + 2]
    ansi = "--ansi" in argv
    if ansi:
        argv.remove("--ansi")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    extra = {"spark.sql.ansi.enabled": "true"} if ansi else None
    spark = get_spark("parity-check", extra_conf=extra)
    if ansi:
        got = spark.conf.get("spark.sql.ansi.enabled")
        assert got == "true", f"ANSI flag did not take: {got}"
        print("(ANSI mode ON — matching the driver's vanilla session)")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name, (fn, oracle) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"status": "fail", "err": f"spark error: {e}"}
            n_fail += 1
            continue
        if oracle is None:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            n_rows_only += 1
            continue
        try:
            odf = con.sql(oracle).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            results[name] = {"status": "fail", "err": f"oracle error: {e}"}
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        else:
            # dtype parity: the driver compares schemas; int32-vs-int64 or
            # datetime-unit drift would pass a stringified value compare but
            # can fail a typed schema check
            def norm(d):
                # timestamp unit (ns vs us) is an Arrow-transport artifact,
                # not a logical-schema difference — both sides are TIMESTAMP
                return "datetime64" if str(d).startswith("datetime64") else str(d)
            dt = [(c, str(sdf[c].dtype), str(odf[c].dtype))
                  for c in sdf.columns if norm(sdf[c].dtype) != norm(odf[c].dtype)]
            if dt:
                problems.append(f"dtypes differ: {dt}")
        if not problems:
            s, o = canon(sdf), canon(odf)
            if s != o:
                diff = [(a, b) for a, b in zip(s, o) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            results[name] = {"status": "fail", "err": "; ".join(problems),
                             "rows": len(sdf)}
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            results[name] = {"status": "pass", "rows": len(sdf),
                             "sec": round(time.time() - t0, 2)}
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if json_out:
        import json
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "ansi": ansi,
                       "summary": {"pass": n_pass, "fail": n_fail,
                                   "rows_only": n_rows_only},
                       "queries": results}, f, indent=2)
            f.write("\n")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
