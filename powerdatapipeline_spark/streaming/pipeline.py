"""Structured Streaming variants (SURVEY.md §2.10, §7.6).

The reference DECLARES streaming (``use_streaming`` /
``streaming_data_source`` config knobs, reference config/config.py:89-90;
"It streams data from disk", README.md:37) but implements none of it. Here
the batch operators get true streaming twins:

  * file-source ingest with explicit schema (no inference on streams),
  * tumbling-window mean downsample with watermarked late-data handling —
    the reference's pandas ``resample('1S').mean()`` (pandas_utilities.py:
    115-129) becomes ``groupBy(window(ts, interval)).avg`` verbatim,
  * watermarked streaming dedup (``dropDuplicatesWithinWatermark``).

State stores are keyed by (window, series) — at scale, watermark delay
bounds state size; no unbounded state anywhere.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@contextmanager
def state_sized(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` for a streaming start.

    Every stateful streaming operator instantiates one state store PER
    shuffle partition PER operator, and the count is frozen into the
    checkpoint at first start — so the partition count must be sized to the
    STREAM's volume, not inherited from the batch session default. A
    stream-stream join at 32 partitions pays 64 state-store instances of
    fixed per-micro-batch cost; sizing to the firehose (small here, large at
    100 TB — where this knob goes UP, it is not a benchmark toggle) cut
    q65 from ~20 s to ~4 s at sf0.1. The conf is restored on exit. NOTE:
    the change is session-global while the block is open — a batch query
    that *starts* inside the block plans with ``n`` shuffle partitions too.
    The streaming query itself is safe after start (it captures the value),
    but don't launch unrelated batch work concurrently with this scope.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def scratch_dir(prefix: str) -> str:
    """Throwaway scratch directory for VERIFICATION-shaped streaming
    runs (availableNow trigger + memory sink / parquet partials):
    prefer tmpfs (``/dev/shm``) over the disk-backed default tmp — the
    checkpoint WAL (offsets/commits), state-store delta files and
    partial-frame writes are many small synchronous file operations
    that measured ~0.4-0.7 s per short run on ext4 and ~nothing on
    tmpfs (round 16, q231/q65 A/B). Production streams keep a DURABLE
    caller-supplied checkpoint (:func:`write_stream_parquet`'s
    contract) — recovery after host loss requires it; tmpfs scratch is
    sound here only because these one-shot runs are re-runnable from
    source and their checkpoints are never resumed."""
    import os
    import tempfile

    base = "/dev/shm"
    if not (os.path.isdir(base) and os.access(base, os.W_OK)):
        base = None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def stream_state_partitions(spark: SparkSession, *paths: str,
                            bytes_per_partition: int = 64 << 20,
                            floor: int = 2) -> int:
    """Scale-adaptive shuffle/state-store partition count for a stream
    start (guide §2: derive partitioning from input size, don't pin a
    constant tuned for one scale). Every stateful operator instantiates
    one state store PER shuffle partition, each paying a fixed
    per-micro-batch open/commit cost — so the count must track the
    STREAM's volume: source bytes / ``bytes_per_partition``, floored at
    ``floor`` (keep multi-partition semantics exercised) and ceilinged
    by the session's configured shuffle partitions (the cluster-scale
    knob — a 100 TB/day firehose gets the full session width, a
    verification fixture does not pay 32 store commits per batch).

    Bytes come from Hadoop ``FileSystem.getContentSummary``, so local
    paths, ``file://``, ``hdfs://`` and ``s3a://`` URIs are all sized; a
    missing path counts as 0 bytes."""
    import math

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(hconf)
        if fs.exists(hp):
            total += fs.getContentSummary(hp).getLength()
    hi = int(spark.conf.get("spark.sql.shuffle.partitions"))
    want = math.ceil(total / bytes_per_partition)
    return max(floor, min(hi, max(want, floor)))


def read_stream_csv(spark: SparkSession, path: str, schema: T.StructType,
                    header: bool = True, max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (spark.readStream
              .schema(schema)
              .option("header", str(header).lower()))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(path)


def streaming_downsample_mean(stream: DataFrame, ts_col: str,
                              interval_seconds: int, value_cols: Sequence[str],
                              watermark: str = "1 minute",
                              partition_by: Sequence[str] | None = None) -> DataFrame:
    """Tumbling-window mean with watermark: late rows beyond ``watermark``
    are dropped and windows finalize incrementally (batch twin:
    operators/timeseries.downsample_mean)."""
    keys = [F.window(ts_col, f"{interval_seconds} seconds").alias("w")]
    if partition_by:
        keys += [F.col(c) for c in partition_by]
    out = (stream
           .withWatermark(ts_col, watermark)
           .groupBy(*keys)
           .agg(*[F.avg(c).alias(f"avg_{c}") for c in value_cols]))
    return out.select(F.col("w.start").alias("bucket_ts"),
                      *[c for c in out.columns if c != "w"])


def streaming_dedup(stream: DataFrame, keys: Sequence[str], ts_col: str,
                    watermark: str = "10 minutes") -> DataFrame:
    """Exact streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only within the
    watermark horizon — state cannot grow unboundedly (the 100 TB/day
    requirement)."""
    return (stream
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(list(keys)))


def write_stream_parquet(stream: DataFrame, path: str, checkpoint: str,
                         mode: str = "append",
                         trigger_available_now: bool = True):
    """Parquet sink via ``foreachBatch`` — the production landing pattern:
    each micro-batch writes atomically with its batch id available for
    idempotent re-processing (exactly-once lands on the checkpoint +
    deterministic batch ids; a restart re-runs the last uncommitted batch
    into the same paths).

    Returns the started StreamingQuery; caller awaits/stops it.
    """
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode(mode)
         .option("maxRecordsPerFile", 1_000_000)
         .parquet(path))

    writer = (stream.writeStream.foreachBatch(_write)
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(stream: DataFrame, ts_col: str,
                         partition_by: Sequence[str], gap_seconds: float,
                         watermark: str = "10 minutes") -> DataFrame:
    """Streaming sessionization — the twin of the batch
    ``operators/timeseries.sessionize``: ``F.session_window`` merges events
    whose inter-arrival gap is under ``gap_seconds``; a session is emitted
    as ONE aggregate row (key, start, end, n_events) once the watermark
    passes its close. State per open session only — watermark-bounded, the
    streaming-scale shape (per-event session *labels*, batch sessionize's
    output, would require unbounded state).

    Boundary semantics: a gap of EXACTLY ``gap_seconds`` closes the session
    here (session windows are half-open ``[start, prev+gap)``) but not in
    the batch operator (which splits strictly on ``gap > gap_seconds``) —
    sub-second jitter in real event time makes exact-gap events measure-zero;
    the parity test uses off-boundary gaps.
    """
    keys = ([F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("w")]
            + [F.col(c) for c in partition_by])
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(*keys)
            .agg(F.count("*").alias("n_events"),
                 F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"))
            .select(*partition_by, "n_events", "session_start", "session_end"))


def streaming_interval_stats(stream: DataFrame, ts_col: str,
                             bucket_seconds: int = 60,
                             watermark: str = "1 minute") -> DataFrame:
    """Streaming cousin of the interval audit (SURVEY.md §2.7): per tumbling
    bucket, count + min/max event time — a monitoring aggregate that a
    cadence-drift alarm consumes."""
    return (stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, f"{bucket_seconds} seconds").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.min(ts_col).alias("first_ts"),
                 F.max(ts_col).alias("last_ts"))
            .select(F.col("w.start").alias("bucket_ts"), "n_events",
                    "first_ts", "last_ts"))


def stream_stream_join(left: DataFrame, right: DataFrame,
                       left_key: str, right_key: str,
                       left_ts: str, right_ts: str,
                       max_lag_seconds: int,
                       watermark: str = "10 minutes") -> DataFrame:
    """Stream-stream INNER join with an event-time range bound: right-side
    rows join left-side rows with the same key that happened at most
    ``max_lag_seconds`` earlier (``left_ts <= right_ts <= left_ts + lag``).

    Both sides carry watermarks and the join condition carries the time
    range — together they let Spark evict buffered rows once no future
    match is possible (state ≈ watermark + lag horizon per side, never
    unbounded; without the range bound a stream-stream join must keep every
    row forever). Column names must already be disjoint across the two
    sides (rename before calling) so downstream selection is unambiguous.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = ((F.col(left_key) == F.col(right_key))
            & (F.col(right_ts) >= F.col(left_ts))
            & (F.col(right_ts) <= F.col(left_ts)
               + F.expr(f"INTERVAL {max_lag_seconds} SECONDS")))
    return l.join(r, cond)


def stream_static_enrich(stream: DataFrame, dim: DataFrame,
                         on: str | Sequence[str],
                         how: str = "left",
                         broadcast: bool = True) -> DataFrame:
    """Stream-static dimension enrichment: join a live stream against a
    BATCH dimension table (meter registry, tariff table, site metadata)
    — the third Structured Streaming join shape next to the windowed
    agg and the stream-stream join. No watermark and no state store:
    each micro-batch joins the static side directly (re-read per batch
    when the dim is a file source, so slowly-changing dims pick up
    between batches), and a small dim broadcasts — the streaming twin
    of relational.join_dim — with the same ``broadcast`` opt-out for a
    dimension too big to force onto every executor. Left join keeps
    stream rows whose key is missing from the registry (flag them
    downstream, don't drop telemetry)."""
    keys = [on] if isinstance(on, str) else list(on)
    d = F.broadcast(dim) if broadcast else dim
    return stream.join(d, keys, how)
