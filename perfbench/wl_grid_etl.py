"""grid-etl: closed loop of config-driven pipeline runs, one client.

One op is ``plans.pipeline.build_pipeline`` (extract → transform) then
``split`` and one ``sources.readers.write_parquet`` per split, for one of
the three reference shapes; ops cycle F1 → F2 → F3. Every op's output is
read back and checked against a numpy reference of the generated input.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq

import inputs

F1_ROWS = 60_000    # 1 s cadence → 200 buckets of 300 s
F2_ROWS = 4_000     # 1800 s cadence → 24,000 rows after upsampling
F3_ROWS = 6_000     # 900 s cadence → 18,000 rows after upsampling
BIG = 10 ** 9       # fit the feature space on every row
WARM_CYCLES = 5     # run WARM_THREADS at a time
WARM_THREADS = 3
CYCLE_S = 3.9       # nominal time of one warm F1-F3 cycle


def _configs(data: str) -> list[dict]:
    f1 = {"name": "F1", "datapipeline": {
        "extraction": {"data_files": [os.path.join(data, "f1.csv")],
                       "columns_original": inputs.F1_COLS},
        "transformation": {"features": inputs.F1_COLS[1:] + ["datetimestampseconds"],
                           "time_interval_original": 1,
                           "time_interval_desired": 300, "resample": True,
                           "resample_method": "mean", "normalize": True,
                           "n_rows_to_adapt_featurespace": BIG}}}
    f2 = {"name": "F2", "datapipeline": {
        "extraction": {"data_files": [os.path.join(data, "f2.csv")],
                       "columns_original": inputs.F2_COLS,
                       "columns_added": ["datetimestamp", "datetimestampseconds"],
                       "column_date": "date_block", "column_time": "time_block"},
        "transformation": {"features": inputs.F2_COLS[2:4] + ["datetimestampseconds"],
                           "time_interval_original": 1800,
                           "time_interval_desired": 300, "resample": True,
                           "resample_method": "repeat"}}}
    f3 = {"name": "F3", "datapipeline": {
        "extraction": {"data_files": [os.path.join(data, "f3.csv")],
                       "columns_original": inputs.F3_COLS,
                       "columns_added": ["datetimestampseconds"],
                       "column_datetime": "datetime"},
        "transformation": {"features": inputs.F3_COLS[1:] + ["datetimestampseconds"],
                           "time_interval_original": 900,
                           "time_interval_desired": 300, "resample": True,
                           "resample_method": "repeat", "normalize": True,
                           "skip_normalization": ["datetimestampseconds"],
                           "n_rows_to_adapt_featurespace": BIG}}}
    return [f1, f2, f3]


def _make_inputs(data: str, seed: int) -> tuple[list[int], list[dict]]:
    rng = np.random.default_rng(seed)
    c1 = inputs.f1_columns(rng, inputs.T0, F1_ROWS)
    c2, t2 = inputs.f2_columns(rng, F2_ROWS)
    c3, t3 = inputs.f3_columns(rng, F3_ROWS)
    for name, cols in (("f1", c1), ("f2", c2), ("f3", c3)):
        inputs.write_csv(os.path.join(data, f"{name}.csv"), cols)
    refs = [inputs.f1_reference(c1, 300), inputs.f2_reference(c2, t2, 300, 1800),
            inputs.f3_reference(c3, t3, 300, 900)]
    return [F1_ROWS, F2_ROWS, F3_ROWS], refs


def _ts_col(shape: str) -> str:
    return "bucket_ts" if shape == "F1" else "datetimestampseconds"


def _check(out: str, ref: dict) -> str | None:
    """Row count and column sums of each written split against the
    reference; sums agree within 1e-6 of the column's absolute sum."""
    for part, want in ref.items():
        t = pq.read_table(os.path.join(out, part))
        if t.num_rows != want["rows"]:
            return f"{part}: {t.num_rows} rows, expected {want['rows']}"
        for col, s in want["sums"].items():
            arr = t.column(col)
            vals = arr.to_numpy(zero_copy_only=False)
            if col == "bucket_ts":
                vals = vals.astype("datetime64[s]").astype(np.int64)
            vals = vals.astype(np.float64)
            if abs(vals.sum() - s) > 1e-6 * max(np.abs(vals).sum(), 1.0):
                return f"{part}.{col}: sum {vals.sum()!r}, expected {s!r}"
    return None


def run(ctx) -> dict:
    from powerdatapipeline_spark.config.model import RunConfig
    from powerdatapipeline_spark.features import featurespace
    from powerdatapipeline_spark.operators import timeseries
    from powerdatapipeline_spark.plans import pipeline
    from powerdatapipeline_spark.sources import readers

    data = os.path.join(ctx.scratch, "grid")
    os.makedirs(data)
    with ctx.untimed():
        rows, refs = _make_inputs(data, ctx.seed)
    cfgs = [RunConfig(**c) for c in _configs(data)]
    spark = ctx.spark

    def pipeline_run(i: int, out: str) -> None:
        cfg = cfgs[i % 3]
        df = pipeline.build_pipeline(spark, cfg)
        parts = pipeline.split(df, cfg, _ts_col(cfg.name))
        for part, frame in zip(("train", "test", "eval"), parts):
            readers.write_parquet(frame, os.path.join(out, part))

    # Warm-up: the JIT drift lasts about eight sequential cycles, so the
    # warm-up cycles run on WARM_THREADS clients at once to reach the same
    # call counts in less time; one sequential cycle then settles the loop.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(WARM_THREADS) as ex:
        list(ex.map(lambda i: pipeline_run(i, os.path.join(data, f"warm{i}")),
                    range(3 * WARM_CYCLES)))
    warm = [time.perf_counter() - t0]
    out = os.path.join(data, "out")
    write_bytes: list[int] = []

    tr = ctx.tracer
    tr.wrap(pipeline, "extract", "plans.extract")
    tr.wrap(pipeline, "transform", "plans.transform")
    tr.wrap(pipeline, "read_csv", "sources.read_csv")
    tr.wrap(timeseries, "check_intervals", "operators.timeseries.check_intervals")
    tr.wrap(timeseries, "resample", "operators.timeseries.resample")
    tr.wrap(timeseries, "prefix_split", "operators.timeseries.prefix_split")
    tr.wrap(featurespace.FeatureSpace, "fit", "features.fit")
    tr.wrap(readers, "write_parquet", "sources.write")

    def one(i: int) -> dict:
        t0 = time.perf_counter()
        with tr.op(f"op{i}"):
            pipeline_run(i, out)
        dur = time.perf_counter() - t0
        ctx.collect(f"op{i}")
        ctx.probe()
        with ctx.untimed():
            err = _check(out, refs[i % 3])
            write_bytes.append(sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(out) for f in fs))
            shutil.rmtree(out)
        name = cfgs[i % 3].name
        return {"dur": dur, "ok": err is None,
                "err": f"{name}: {err}" if err else None,
                "rows": rows[i % 3], "name": name, "op_id": f"op{i}"}

    i = 3 * WARM_CYCLES
    warm.append(sum(one(i + k)["dur"] for k in range(3)))
    i += 3
    ctx.mark_setup_done()
    ops = [one(i + k) for k in range(3 * ctx.repeats(CYCLE_S, 3))]
    return {"warm": warm, "ops": ops, "pass_size": 3,
            "write_bytes": write_bytes[3:]}
