"""registry: closed loop over a fixed sample of registry queries, one client.

The sample is every 32nd query name in sorted order, run on the TPC-H-like
tables vendored under ``data/sf0.01``. The seed only permutes the order
within each pass. Pass 0 collects every query and compares it with its
DuckDB oracle; it and one more pass are the warm-up. The timed passes run
``fn(spark, sf)`` followed by ``.count()``, and an op counts as correct when
its query passed the oracle check and the count equals the oracle's rows.
"""

from __future__ import annotations

import random
import re
import time

import duckdb

SAMPLE_STRIDE = 32
WARM_PASSES = 1
PASS_S = 6.0        # nominal time of one warm pass of the sample


def sample(registry: dict) -> list[str]:
    return sorted(registry)[::SAMPLE_STRIDE]


def _oracles(names: list[str], registry: dict, sf: str) -> dict:
    from powerdatapipeline_spark.sources.readers import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for n in names:
        sql = registry[n][1]
        try:
            out[n] = con.sql(sql).df() if sql else None
        except duckdb.Error as e:
            out[n] = e
    con.close()
    return out


def _compare(sdf, odf) -> str | None:
    from tools.check_parity import canon

    if odf is None:
        return None  # rows-only query: no oracle to compare with
    if isinstance(odf, Exception):
        return f"oracle error: {odf}"
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} vs oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} vs oracle {sorted(odf.columns)}"
    if canon(sdf) != canon(odf):
        return "values differ from the oracle"
    return None


def _cause(e: BaseException) -> str:
    """One line naming the failure. A Python worker's traceback ends with
    its root cause (e.g. ``ModuleNotFoundError: ...``); other errors lead
    with it."""
    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()] or [""]
    named = [ln for ln in lines if re.match(r"[\w.]+(Error|Exception): ", ln)]
    line = named[-1] if type(e).__name__ == "PythonException" and named else lines[0]
    return f"{type(e).__name__}: {line[:240]}"


def run(ctx) -> dict:
    from powerdatapipeline_spark.queries import REGISTRY

    names = sample(REGISTRY)
    sf = ctx.sf_dir
    with ctx.untimed():
        oracle = _oracles(names, REGISTRY, sf)
    rng = random.Random(ctx.seed)
    spark, tr = ctx.spark, ctx.tracer
    expect: dict[str, int | None] = {}
    bad: dict[str, str] = {}

    # pass 0, the warm-up: every query collected and compared with its oracle
    pass0 = []
    for n in rng.sample(names, len(names)):
        t0 = time.perf_counter()
        try:
            sdf = REGISTRY[n][0](spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001 - recorded as the query's failure
            bad[n] = _cause(e)
            continue
        finally:
            pass0.append(time.perf_counter() - t0)
        with ctx.untimed():
            err = _compare(sdf, oracle[n])
        if err:
            bad[n] = err
        expect[n] = len(sdf)
        ctx.left_behind()

    def one(n: str, op_id: str) -> dict:
        fn = REGISTRY[n][0]
        err, rows = bad.get(n), 0
        t0 = time.perf_counter()
        try:
            with tr.op(op_id):
                with tr.span("queries.build"):
                    df = fn(spark, sf)
                with tr.span("queries.exec"):
                    rows = df.count()
        except Exception as e:  # noqa: BLE001 - counted against ok_ratio
            err = _cause(e)
        dur = time.perf_counter() - t0
        if err is None and rows != expect.get(n):
            err = f"count {rows} vs oracle {expect.get(n)}"
        ctx.collect(op_id)
        ctx.probe()
        ctx.left_behind()
        return {"dur": dur, "ok": err is None,
                "err": f"{n}: {err}" if err else None,
                "rows": rows, "name": n, "op_id": op_id}

    warm, k = [], 0
    for _ in range(WARM_PASSES):
        for n in rng.sample(names, len(names)):
            warm.append(one(n, f"op{k}")["dur"])
            k += 1
    ctx.mark_setup_done()
    ops = []
    for _ in range(ctx.repeats(PASS_S, len(names))):
        for n in rng.sample(names, len(names)):
            ops.append(one(n, f"op{k}"))
            k += 1
    return {"warm": [sum(pass0), sum(warm)], "ops": ops,
            "pass_size": len(names)}
