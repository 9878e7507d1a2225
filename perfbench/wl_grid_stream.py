"""grid-stream: open loop into the config-driven streaming pipeline.

A generator thread drops seeded F1-shaped CSV files into the source
directory at a fixed rate, each stamped with the time it was due. The
program runs ``plans.pipeline.build_pipeline`` with ``use_streaming=True``
(``read_stream_csv`` → ``streaming_downsample_mean`` with a watermark) into
``write_stream_parquet`` on the default processing-time trigger. A file's
latency runs from its due time to the commit of the micro-batch that
consumed it, read from the commit log's file times.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import inputs

FILES_PER_S = 2.0
ROWS_PER_FILE = 600      # 10 minutes of 1 s telemetry: two 300 s windows
WARM_S = 8.0
INTERVAL = 300
WATERMARK_S = 60         # streaming_downsample_mean's default watermark


class Generator(threading.Thread):
    """Writes file i at ``t0 + i / FILES_PER_S`` until ``until``."""

    def __init__(self, src: str, stage: str, seed: int, t0: float, until: float):
        super().__init__(name="perfbench-generator", daemon=True)
        self.src, self.stage, self.t0, self.until = src, stage, t0, until
        self.rng = np.random.default_rng(seed)
        self.files: list[dict] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            i = 0
            while True:
                due = self.t0 + i / FILES_PER_S
                if due >= self.until:
                    return
                cols = inputs.f1_columns(self.rng, inputs.T0 + i * ROWS_PER_FILE,
                                         ROWS_PER_FILE)
                name = f"f{i:06d}.csv"
                inputs.write_csv(os.path.join(self.stage, name), cols)
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.replace(os.path.join(self.stage, name),
                           os.path.join(self.src, name))
                self.files.append({"name": name, "due": due,
                                   "late": time.time() - due})
                i += 1
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            self.error = e


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it (file source log)."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    return {int(os.path.basename(p)): os.stat(p).st_mtime
            for p in glob.glob(os.path.join(ckpt, "commits", "[0-9]*"))}


def _check(spark, src: str, out: str, n_files: int, rows_in: int) -> str | None:
    """Finalized windows against a batch ``downsample_mean`` over the same
    files, plus every generated row consumed exactly once."""
    from pyspark.sql import functions as F

    from powerdatapipeline_spark.operators import timeseries
    from powerdatapipeline_spark.sources.readers import read_csv

    want_rows = n_files * ROWS_PER_FILE
    if rows_in != want_rows:
        return f"stream read {rows_in} rows, generator wrote {want_rows}"
    vcols = inputs.F1_COLS[1:]
    batch = timeseries.downsample_mean(
        read_csv(spark, src, columns=inputs.F1_COLS).withColumn(
            "__ts", F.timestamp_seconds("datetimestampseconds")),
        "__ts", INTERVAL, vcols).toPandas()
    want = {int(r.bucket_ts.timestamp()): [getattr(r, f"avg_{c}") for c in vcols]
            for r in batch.itertuples()}
    got_t = pq.read_table(out).to_pandas()
    got = {int(r.bucket_ts.timestamp()): [getattr(r, f"avg_{c}") for c in vcols]
           for r in got_t.itertuples()}
    if len(got) != len(got_t):
        return "a window was emitted twice"
    for k, v in got.items():
        if k not in want or not np.allclose(v, want[k], rtol=1e-9, atol=1e-9):
            return f"window {k}: stream {v} vs batch {want.get(k)}"
    last_event = inputs.T0 + want_rows - 1
    final = [k for k in want if k + INTERVAL <= last_event - WATERMARK_S - INTERVAL]
    missing = [k for k in final if k not in got]
    if missing:
        return f"{len(missing)} finalized windows missing, first {min(missing)}"
    return None


def run(ctx) -> dict:
    from powerdatapipeline_spark.config.model import RunConfig
    from powerdatapipeline_spark.plans import pipeline
    from powerdatapipeline_spark.streaming.pipeline import write_stream_parquet

    base = os.path.join(ctx.scratch, "stream")
    src, stage, out, ckpt = (os.path.join(base, d)
                             for d in ("src", "stage", "out", "ckpt"))
    for d in (src, stage):
        os.makedirs(d)
    cfg = RunConfig(name="F1-stream", datapipeline={
        "extraction": {"data_files": [], "use_streaming": True,
                       "streaming_data_source": src,
                       "columns_original": inputs.F1_COLS},
        "transformation": {"features": inputs.F1_COLS[1:] + ["datetimestampseconds"],
                           "time_interval_original": 1,
                           "time_interval_desired": INTERVAL, "resample": True,
                           "resample_method": "mean"}})
    spark = ctx.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    frame = pipeline.build_pipeline(spark, cfg)
    q = write_stream_parquet(frame, out, ckpt, trigger_available_now=False)
    t0 = time.time() + 0.5
    win0, win1 = t0 + WARM_S, t0 + WARM_S + ctx.seconds
    gen = Generator(src, stage, ctx.seed, t0, win1)
    try:
        gen.start()
        time.sleep(max(0.0, win0 - time.time()))
        ctx.mark_setup_done()
        gen.join(timeout=win1 - time.time() + 30)
        if gen.is_alive() or gen.error:
            raise RuntimeError(f"generator failed: {gen.error!r}")
        q.processAllAvailable()
    finally:
        gen.join(timeout=30)
        q.stop()
    progress = q.recentProgress
    batch_of = _file_batches(ckpt)
    commit = _commit_times(ckpt)
    with ctx.untimed():
        rows_in = sum(p["numInputRows"] for p in progress)
        err = _check(spark, src, out, len(gen.files), rows_in)

    files = [f for f in gen.files if win0 <= f["due"] < win1]
    lat = []
    for f in files:
        b = batch_of.get(f["name"])
        ok = b is not None and b in commit and err is None
        lat.append({"dur": commit[b] - f["due"] if ok else 0.0,
                    "latency": commit[b] - f["due"] if ok else 0.0,
                    "ok": ok, "name": f["name"], "rows": ROWS_PER_FILE,
                    "err": None if ok else f"{f['name']}: {err or 'never committed'}"})
    # an op of the streaming engine is one micro-batch
    batches = [p for p in progress if win0 <= _iso(p["timestamp"]) < win1]
    ops = [{"dur": p["durationMs"].get("triggerExecution", 0) / 1e3,
            "rows": p["numInputRows"], "ok": True, "err": None,
            "name": f"batch{p['batchId']}"} for p in batches]
    backlog = max((sum(1 for g in gen.files
                       if g["due"] <= f["due"]
                       and commit.get(batch_of.get(g["name"], -1), 1e18) > f["due"])
                   for f in files), default=0)
    return {"items": lat, "ops": ops, "progress": batches,
            "late_s": max((f["late"] for f in files), default=0.0),
            "backlog_files": backlog, "window_s": win1 - win0,
            "rows_in_window": sum(p["numInputRows"] for p in batches),
            "run_id": str(q.runId)}


def _iso(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
