"""Seeded inputs for the grid workloads and their numpy references.

The three shapes follow FIXTURES.md F1-F3: DER telemetry at 1 s cadence,
smart-meter loads at 1800 s cadence with split date/time text, and node
loads at 900 s cadence with one datetime string. Values are rounded to
three decimals before they are written, so the CSV text and the reference
start from the same numbers.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

T0 = 1709424000  # 2024-03-03 00:00:00 UTC
F1_COLS = ["datetimestampseconds", "W", "DCW", "AphA", "PhVphA"]
F2_COLS = ["date_block", "time_block", "Load_residential_single_0",
           "Load_residential_single_1", "Load_residential_single_2"]
F3_COLS = ["datetime", "s1a", "s2b", "s4c"]


def write_csv(path: str, columns: dict[str, np.ndarray]) -> None:
    """Header line plus unquoted values; written to a sibling file first and
    renamed, so a directory watcher never sees a partial file."""
    tmp = path + ".part"
    with open(tmp, "wb") as fh:
        fh.write((",".join(columns) + "\n").encode())
        pacsv.write_csv(pa.table(columns), fh,
                        pacsv.WriteOptions(include_header=False))
    os.replace(tmp, path)


def _r3(x: np.ndarray) -> np.ndarray:
    return np.round(x, 3)


def f1_columns(rng: np.random.Generator, start: int, n: int) -> dict[str, np.ndarray]:
    """F1 der_fronius: 1 s cadence, diurnal AC power bell, 0 at night."""
    t = start + np.arange(n, dtype=np.int64)
    hour = (t % 86400) / 3600.0
    bell = np.clip(np.sin(np.pi * (hour - 6.0) / 12.0), 0.0, None)
    w = _r3(np.clip(5000.0 * bell + rng.normal(0, 25, n), 0.0, None) * (bell > 0))
    return {
        "datetimestampseconds": t.astype(np.float64),
        "W": w,
        "DCW": _r3(w / 0.96 + rng.normal(0, 5, n)),
        "AphA": _r3(w / 240.0 + rng.normal(0, 0.05, n)),
        "PhVphA": _r3(240.0 + rng.uniform(-2, 2, n)),
    }


def _grid_text(t: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    dt = t.astype("datetime64[s]").astype(str)  # 'YYYY-MM-DDTHH:MM:SS'
    return np.char.partition(dt, "T")[:, 0], np.char.partition(dt, "T")[:, 2]


def f2_columns(rng: np.random.Generator, n: int) -> tuple[dict, np.ndarray]:
    """F2 smartmeter: 30-min grid from 2016-02-01, split date/time text."""
    t = 1454284800 + 1800 * np.arange(n, dtype=np.int64)
    date, time_ = _grid_text(t)
    hour = (t % 86400) / 3600.0
    cols = {"date_block": date, "time_block": time_}
    for i in range(3):
        peaks = (np.exp(-((hour - 7.5 - i) ** 2) / 2)
                 + 1.5 * np.exp(-((hour - 19 + i) ** 2) / 3))
        cols[F2_COLS[2 + i]] = _r3(0.3 + (1 + 0.2 * i) * peaks
                                   + rng.gamma(2.0, 0.05, n))
    return cols, t


def f3_columns(rng: np.random.Generator, n: int) -> tuple[dict, np.ndarray]:
    """F3 nodeload: 15-min grid, one 'YYYY-MM-DD HH:MM:SS' column."""
    t = T0 + 900 * np.arange(n, dtype=np.int64)
    date, time_ = _grid_text(t)
    cols = {"datetime": np.char.add(np.char.add(date, " "), time_)}
    phase = 2 * np.pi * (t % 86400) / 86400.0
    for i, c in enumerate(F3_COLS[1:]):
        cols[c] = _r3(50 + 20 * np.sin(phase + i) + rng.normal(0, 2, n))
    return cols, t


# -- references -------------------------------------------------------------

def _f32(x: np.ndarray) -> np.ndarray:
    # the pipeline reads measurements as FloatType
    return x.astype(np.float32).astype(np.float64)


def _zscore(x: np.ndarray) -> np.ndarray:
    sd = np.sqrt(x.var())
    return (x - x.mean()) / (sd if sd > 0 else 1.0)


def _split(ts: np.ndarray, cols: dict[str, np.ndarray],
           train: float = 0.8, test: float = 0.1) -> dict:
    """Row counts and column sums of the ordered prefix split."""
    q1, q2 = np.percentile(ts, [100 * train, 100 * (train + test)])
    masks = {"train": ts <= q1, "test": (ts > q1) & (ts <= q2), "eval": ts > q2}
    return {k: {"rows": int(m.sum()),
                "sums": {c: float(v[m].sum()) for c, v in cols.items()}}
            for k, m in masks.items()}


def f1_reference(cols: dict[str, np.ndarray], interval: int) -> dict:
    """Mean downsample to ``interval`` then z-score of every bucket mean."""
    t = cols["datetimestampseconds"]
    bucket = np.floor(t / interval) * interval
    keys, inv = np.unique(bucket, return_inverse=True)
    counts = np.bincount(inv)
    out = {"bucket_ts": keys}
    for c in F1_COLS[1:]:
        out[f"avg_{c}"] = _zscore(np.bincount(inv, _f32(cols[c])) / counts)
    return _split(keys, out)


def f2_reference(cols: dict, t: np.ndarray, interval: int, span: int) -> dict:
    """Repeat upsample of two loads (the third is projected away)."""
    reps = span // interval
    ticks = (np.repeat((t // interval) * interval, reps)
             + np.tile(np.arange(reps) * interval, len(t))).astype(np.float64)
    out = {"datetimestampseconds": ticks}
    for c in F2_COLS[2:4]:
        out[c] = np.repeat(_f32(cols[c]), reps)
    return _split(ticks, out)


def f3_reference(cols: dict, t: np.ndarray, interval: int, span: int) -> dict:
    """Repeat upsample, then z-score of the three loads (time kept as is)."""
    reps = span // interval
    ticks = (np.repeat((t // interval) * interval, reps)
             + np.tile(np.arange(reps) * interval, len(t))).astype(np.float64)
    out = {"datetimestampseconds": ticks}
    for c in F3_COLS[1:]:
        out[c] = _zscore(np.repeat(_f32(cols[c]), reps))
    return _split(ticks, out)
