"""Time-series operators (SURVEY.md §2.6, §2.7 — the reference's signature
surface): interval audit, up/down resampling, sliding windows, missing-value
fill, ordered prefix split, adjacent-row diff.

Order is always explicit (``ts_col``) — the reference trusts CSV file order
(SURVEY.md §2.8); Spark must not.

Scale strategy (SURVEY.md §4.2.1): ordered window ops over an unpartitioned
``Window.orderBy(ts)`` collapse to ONE task. Every op here therefore takes an
optional ``partition_by`` (series key — e.g. meter id / node id: the natural
100 TB layout is millions of independent series) and, for the truly-global
single-series case, a bucketed-overlap implementation is provided
(``sliding_windows_bucketed``) that replicates ``w-1`` boundary rows instead
of serializing the whole series through one task.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _window(ts_col: str, partition_by: Sequence[str] | None):
    w = Window.orderBy(ts_col)
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(ts_col)
    return w


# ---------------------------------------------------------------------------
# Interval audit (reference tfdataset_utilities.py:162-197, datapipeline.py
# :619-650: compute adjacent diff, assert it equals the declared cadence)
# ---------------------------------------------------------------------------

def with_interval(df: DataFrame, ts_col: str, partition_by: Sequence[str] | None = None,
                  out_col: str = "interval") -> DataFrame:
    """Adjacent-row interval via ``lead`` (reference computes ts_i − ts_{i+1}
    and asserts against the NEGATED value — tfdataset_utilities.py:162-170,
    datapipeline.py:633; we emit the positive step, same acceptance,
    SURVEY.md Appendix A.3)."""
    w = _window(ts_col, partition_by)
    nxt = F.lead(ts_col).over(w)
    step = nxt.cast("double") - F.col(ts_col).cast("double")
    return df.withColumn(out_col, step)


def check_intervals(df: DataFrame, ts_col: str, expected_seconds: float,
                    partition_by: Sequence[str] | None = None) -> bool:
    """All-equal interval validation (reference dataset.reduce state machine,
    tfdataset_utilities.py:172-188 ≡ ``all(x == first)``): the adjacent
    step from :func:`with_interval` (a ``Window.orderBy(ts_col)`` — one
    ordered partition unless ``partition_by`` is given), then one
    aggregate checking min(step) == max(step) == expected."""
    stepped = with_interval(df, ts_col, partition_by).where(F.col("interval").isNotNull())
    row = stepped.agg(F.min("interval").alias("lo"), F.max("interval").alias("hi")).first()
    ok = row.lo is not None and row.lo == row.hi == float(expected_seconds)
    if not ok:
        raise AssertionError(
            f"interval audit failed: expected {expected_seconds}s, observed "
            f"[{row.lo}, {row.hi}]")
    return True


# ---------------------------------------------------------------------------
# Resampling (reference tfdataset_resampling.py)
# ---------------------------------------------------------------------------

def downsample_modulo(df: DataFrame, seconds_col: str, interval: int) -> DataFrame:
    """Keep rows whose epoch-seconds align to the grid: ``ts % i == 0``
    (reference tfdataset_resampling.py:32-48). A pure filter — pushed to the
    scan by Catalyst; no shuffle."""
    return df.where(F.col(seconds_col).cast("long") % interval == 0)


def downsample_mean(df: DataFrame, ts_col: str, interval_seconds: int,
                    value_cols: Sequence[str],
                    partition_by: Sequence[str] | None = None) -> DataFrame:
    """Tumbling-window mean downsample (reference pandas
    ``resample('1S').mean()``, pandas_utilities.py:115-129) as a grouped
    aggregation — map-side partial aggregation, one shuffle on the bucket key.

    Emits ``bucket_ts`` (window start) plus ``avg_<col>`` per value column.
    """
    bucket = F.timestamp_seconds(
        F.floor(F.col(ts_col).cast("double") / interval_seconds) * interval_seconds
    ).alias("bucket_ts")
    keys = ([F.col(c) for c in partition_by] if partition_by else []) + [bucket]
    aggs = [F.avg(c).alias(f"avg_{c}") for c in value_cols]
    return df.groupBy(*keys).agg(*aggs)


def upsample_repeat(df: DataFrame, seconds_col: str, interval: int, span: int,
                    partition_by: Sequence[str] | None = None) -> DataFrame:
    """Upsample with repeat fill (reference tfdataset_resampling.py:11-30):
    per input row, align its start DOWN to the grid (``ts // i * i``,
    Appendix A.12), generate ticks ``start, start+i, …`` covering ``span``
    seconds, and repeat the row's values at each tick.

    1→N row generation = ``explode(sequence(...))`` — the idiomatic Spark
    UDTF path; fully parallel, no shuffle (narrow op).

    The emitted tick column replaces ``seconds_col``; all other columns are
    carried (repeat fill). The reference's "linear" fill is stubbed there
    (commented out, tfdataset_resampling.py:22-25) — here linear
    interpolation exists separately as :func:`interpolate_linear`.
    """
    start = (F.floor(F.col(seconds_col).cast("double") / interval) * interval).cast("long")
    ticks = F.sequence(start, start + span - interval, F.lit(interval))
    others = [c for c in df.columns if c != seconds_col]
    return (df
            .withColumn("__tick", F.explode(ticks))
            .select(*others, F.col("__tick").cast("double").alias(seconds_col)))


def upsample_linear(df: DataFrame, seconds_col: str, interval: int,
                    value_cols: Sequence[str],
                    partition_by: Sequence[str] | None = None) -> DataFrame:
    """Upsample with LINEAR fill (the reference's stubbed intent,
    tfdataset_resampling.py:22-25 — commented-out ``fill_method='linear'``):
    per consecutive row pair within a series, emit grid ticks
    ``t0, t0+i, …  < t1`` and interpolate each value column as
    ``v0 + (v1−v0)·(t−t0)/(t1−t0)``; the final row of each series emits
    itself (no successor to interpolate toward).

    One ``lead()`` window (single shuffle on the partition key) followed by
    ``explode(sequence(...))`` — a narrow 1→N op; pure double IEEE
    arithmetic, engine-portable.
    """
    if not value_cols:
        raise ValueError("upsample_linear requires at least one value column")
    w = _window(seconds_col, partition_by)
    t0 = F.col(seconds_col).cast("double")
    t1 = F.lead(seconds_col).over(w).cast("double")
    df = df.withColumn("__t1", t1)
    for c in value_cols:
        df = df.withColumn(f"__next_{c}", F.lead(c).over(w))
    # ticks cover [t0, t1): the successor row emits its own t1 tick.
    # stop is clamped to >= start: duplicate or sub-interval-spaced
    # timestamps (t1 - 1 < t0) would otherwise make F.sequence throw
    # "Illegal sequence boundaries"; the clamp degrades such pairs to a
    # single self-tick instead of a runtime crash
    ticks = F.when(
        F.col("__t1").isNotNull(),
        F.sequence(t0.cast("long"),
                   F.greatest((F.col("__t1") - 1).cast("long"), t0.cast("long")),
                   F.lit(interval)),
    ).otherwise(F.array(t0.cast("long")))
    df = df.withColumn("__tick", F.explode(ticks))
    tick = F.col("__tick").cast("double")
    frac = (tick - t0) / (F.col("__t1") - t0)
    keep = [c for c in df.columns
            if c not in {seconds_col, "__t1", "__tick"}
            and not c.startswith("__next_")]
    out_vals = []
    for c in keep:
        if c in value_cols:
            v0, v1 = F.col(c), F.col(f"__next_{c}")
            interp = F.when(F.col("__t1").isNull() | (tick == t0), v0) \
                      .otherwise(v0 + (v1 - v0) * frac)
            out_vals.append(interp.alias(c))
        else:
            out_vals.append(F.col(c))
    return df.select(*out_vals, tick.alias(seconds_col))


def resample(df: DataFrame, seconds_col: str, interval_original: int,
             interval_desired: int, value_cols: Sequence[str] | None = None,
             method: str = "modulo",
             partition_by: Sequence[str] | None = None) -> DataFrame:
    """Resample dispatcher (reference datapipeline.py:569-616): compares
    original vs desired cadence and picks up/down/none. Downsampling
    supports ``modulo`` (grid filter) and ``mean`` (tumbling aggregate);
    upsampling supports ``repeat`` fill and ``linear`` interpolation (the
    reference stubs linear, tfdataset_resampling.py:22-25)."""
    if interval_desired == interval_original:
        return df
    if interval_desired > interval_original:
        if method == "linear":
            raise ValueError(
                "resample(method='linear') interpolates on the UPSAMPLE "
                "direction only; use method='mean' or 'modulo' to downsample")
        if method == "mean":
            if not value_cols:
                # groupBy().agg() with zero expressions raises deep inside
                # Spark; fail at the API boundary instead
                raise ValueError(
                    "resample(method='mean') requires non-empty value_cols")
            ts = F.timestamp_seconds(F.col(seconds_col)).alias("__ts")
            out = downsample_mean(df.withColumn("__ts", ts), "__ts",
                                  interval_desired, list(value_cols or []),
                                  partition_by)
            return out
        return downsample_modulo(df, seconds_col, interval_desired)
    if method == "linear":
        return upsample_linear(df, seconds_col, interval_desired,
                               list(value_cols or []), partition_by)
    return upsample_repeat(df, seconds_col, interval_desired, span=interval_original)


# ---------------------------------------------------------------------------
# Sliding windows (reference tfdataset.py:197-283)
# ---------------------------------------------------------------------------

def sliding_windows(df: DataFrame, ts_col: str, window_size: int,
                    feature_cols: Sequence[str],
                    partition_by: Sequence[str] | None = None,
                    out_col: str = "window") -> DataFrame:
    """Size-``w``, stride-1, drop-remainder sliding windows (reference
    ``tfdataset_to_windowed_tfdataset``, tfdataset.py:197-203) as
    ``collect_list(struct) over rowsBetween(0, w-1)`` + exact-size filter
    (drop_remainder ≡ discard ragged tail windows).

    With ``partition_by`` (independent series) this scales horizontally; for
    a single global series use :func:`sliding_windows_bucketed`.
    """
    w = _window(ts_col, partition_by).rowsBetween(0, window_size - 1)
    arr = F.collect_list(F.struct(*[F.col(c) for c in feature_cols])).over(w)
    return (df
            .withColumn(out_col, arr)
            .where(F.size(out_col) == window_size))


def sliding_windows_bucketed(df: DataFrame, seconds_col: str, window_size: int,
                             feature_cols: Sequence[str], step_seconds: float,
                             bucket_rows: int = 100_000,
                             out_col: str = "window") -> DataFrame:
    """Global-series sliding windows WITHOUT a single-task global sort
    (SURVEY.md §4.2.1 scale strategy).

    Strategy: bucket the series by ``floor(row_position / bucket_rows)``
    where row position is derived from the (validated, constant-cadence)
    timestamp grid — so bucketing is a narrow op, not a sort. Each row whose
    position lies within ``window_size - 1`` rows of the NEXT bucket boundary
    is replicated into that next bucket, so every window is complete within
    exactly one bucket. Windows then form inside each bucket independently;
    the replica rows only ever *participate* in windows anchored in the
    previous bucket and are never window anchors themselves (anchor stays in
    its home bucket), so no dedup pass is needed.

    Requires a constant cadence (``step_seconds``), which the reference's
    interval audit guarantees before windowing (datapipeline.py:629-638).
    """
    pos = F.floor((F.col(seconds_col).cast("double")) / step_seconds).cast("long")
    df = df.withColumn("__pos", pos)
    home = (F.col("__pos") / bucket_rows).cast("long")
    # replicate head rows of each bucket into the previous bucket
    overlap = F.when(
        (F.col("__pos") % bucket_rows) < (window_size - 1), home - 1
    )
    buckets = F.array_compact(F.array(home, overlap))
    exploded = df.withColumn("__bucket", F.explode(buckets)).where(F.col("__bucket") >= 0)
    w = (Window.partitionBy("__bucket").orderBy("__pos")
         .rowsBetween(0, window_size - 1))
    arr = F.collect_list(F.struct(*[F.col(c) for c in feature_cols])).over(w)
    anchored = (exploded
                .withColumn(out_col, arr)
                # anchors only in their home bucket, and only complete windows
                .where((F.col("__bucket") == home) & (F.size(out_col) == window_size)))
    return anchored.drop("__pos", "__bucket")


def window_features_targets(df: DataFrame, window_col: str, window_size: int,
                            mode: str = "next_step") -> DataFrame:
    """Split a window array into (features, target):

    * ``next_step`` (reference ``windowed_dataset_v1``, tfdataset.py:256-263):
      first ``w-1`` rows are features, last row is the target.
    * ``first_column`` (``windowed_dataset_v2``, tfdataset.py:265-272):
      per row, column 0 is the target, the rest are features — done on
      array-of-struct via ``transform``.
    """
    if mode == "next_step":
        feats = F.slice(F.col(window_col), 1, window_size - 1).alias("features")
        target = F.element_at(F.col(window_col), window_size).alias("target")
        return df.select(*[c for c in df.columns if c != window_col], feats, target)
    if mode == "first_column":
        fields = None  # resolved lazily from schema
        for f in df.schema[window_col].dataType.elementType.fields:
            fields = fields or []
            fields.append(f.name)
        feat_fields, tgt_field = fields[1:], fields[0]
        feats = F.transform(F.col(window_col),
                            lambda s: F.struct(*[s[f] for f in feat_fields])).alias("features")
        target = F.transform(F.col(window_col), lambda s: s[tgt_field]).alias("target")
        return df.select(*[c for c in df.columns if c != window_col], feats, target)
    raise ValueError(f"unknown mode {mode!r}")


# ---------------------------------------------------------------------------
# Missing-value fill (reference pandas_utilities.py:131-152)
# ---------------------------------------------------------------------------

def ffill(df: DataFrame, ts_col: str, cols: Sequence[str],
          partition_by: Sequence[str] | None = None) -> DataFrame:
    """Forward fill = last non-null over the unbounded-preceding frame."""
    w = _window(ts_col, partition_by).rowsBetween(Window.unboundedPreceding, 0)
    for c in cols:
        df = df.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return df


def bfill(df: DataFrame, ts_col: str, cols: Sequence[str],
          partition_by: Sequence[str] | None = None) -> DataFrame:
    """Backward fill = first non-null over the unbounded-following frame
    (the reference's residual-NaN backfill, pandas_utilities.py:148-150)."""
    w = _window(ts_col, partition_by).rowsBetween(0, Window.unboundedFollowing)
    for c in cols:
        df = df.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return df


def interpolate_linear(df: DataFrame, ts_col: str, cols: Sequence[str],
                       partition_by: Sequence[str] | None = None) -> DataFrame:
    """Linear interpolation between the previous and next non-null values
    (the reference applies this to cumulative columns —
    pandas_utilities.py:138-146): ``prev + (next-prev)·(t-t_prev)/(t_next-t_prev)``.
    Endpoints fall back to the available side (ffill/bfill semantics).
    """
    wb = _window(ts_col, partition_by).rowsBetween(Window.unboundedPreceding, -1)
    wf = _window(ts_col, partition_by).rowsBetween(1, Window.unboundedFollowing)
    t = F.col(ts_col).cast("double")
    for c in cols:
        v = F.col(c)
        prev_v = F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(wb)
        prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wb)
        next_v = F.first(F.when(v.isNotNull(), v), ignorenulls=True).over(wf)
        next_t = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wf)
        interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
        filled = (F.when(v.isNotNull(), v)
                  .when(prev_v.isNull(), next_v)
                  .when(next_v.isNull(), prev_v)
                  .otherwise(interp))
        df = df.withColumn(c, filled)
    return df


def fill_missing(df: DataFrame, ts_col: str, cols: Sequence[str],
                 interpolate_cols: Sequence[str] = (),
                 partition_by: Sequence[str] | None = None,
                 bucket_seconds: float | None = None) -> DataFrame:
    """Composite fill mirroring ``fill_missing_values_in_df`` (reference
    pandas_utilities.py:131-152): default columns forward-fill, designated
    (cumulative) columns linearly interpolate, residual leading nulls
    backfill.

    For a single GLOBAL series (``partition_by=None``) pass
    ``bucket_seconds`` to route through the bucketed-overlap variants —
    the unpartitioned windows otherwise serialize the series through one
    task (SURVEY.md §4.2.4)."""
    plain = [c for c in cols if c not in set(interpolate_cols)]
    if bucket_seconds is not None and not partition_by:
        if plain:
            df = ffill_bucketed(df, ts_col, plain, bucket_seconds)
        if interpolate_cols:
            df = interpolate_linear_bucketed(df, ts_col,
                                             list(interpolate_cols),
                                             bucket_seconds)
        if plain:
            df = bfill_bucketed(df, ts_col, plain, bucket_seconds)
        return df
    if plain:
        df = ffill(df, ts_col, plain, partition_by)
    if interpolate_cols:
        df = interpolate_linear(df, ts_col, list(interpolate_cols), partition_by)
    if plain:
        df = bfill(df, ts_col, plain, partition_by)
    return df


# ---------------------------------------------------------------------------
# Bucketed-overlap fills for the single GLOBAL series (SURVEY.md §4.2.4):
# an unpartitioned Window.orderBy(ts) is ONE task at 100 TB. Strategy (same
# as sliding_windows_bucketed): bucket by time range; summarize each
# bucket's boundary non-nulls in one grouped aggregate (one row per bucket);
# prefix/suffix-scan the TINY summary frame (n_buckets rows — the only
# unpartitioned window, deliberately over metadata, never the data);
# broadcast the carry back and finish with per-bucket windows.
# ---------------------------------------------------------------------------

def _bucketed(df: DataFrame, ts_col: str, bucket_seconds: float):
    return df.withColumn(
        "__b", F.floor(F.col(ts_col).cast("double") / bucket_seconds).cast("long"))


def ffill_bucketed(df: DataFrame, ts_col: str, cols: Sequence[str],
                   bucket_seconds: float) -> DataFrame:
    """Forward fill over one global series without a global window: carry
    each bucket's LAST non-null into later buckets (test-pinned ≡
    :func:`ffill`)."""
    df2 = _bucketed(df, ts_col, bucket_seconds)
    t_ok = lambda c: F.when(F.col(c).isNotNull(), F.col(ts_col))  # noqa: E731
    summary = df2.groupBy("__b").agg(
        *[F.max_by(F.col(c), t_ok(c)).alias(f"__last_{c}") for c in cols])
    wprev = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    carry = summary.select(
        "__b", *[F.last(f"__last_{c}", ignorenulls=True).over(wprev)
                 .alias(f"__carry_{c}") for c in cols])
    out = df2.join(F.broadcast(carry), "__b", "left")
    win = (Window.partitionBy("__b").orderBy(ts_col)
           .rowsBetween(Window.unboundedPreceding, 0))
    for c in cols:
        out = out.withColumn(c, F.coalesce(
            F.last(c, ignorenulls=True).over(win), F.col(f"__carry_{c}")))
    return out.drop("__b", *[f"__carry_{c}" for c in cols])


def bfill_bucketed(df: DataFrame, ts_col: str, cols: Sequence[str],
                   bucket_seconds: float) -> DataFrame:
    """Backward fill, bucketed: carry each bucket's FIRST non-null into
    earlier buckets (test-pinned ≡ :func:`bfill`)."""
    df2 = _bucketed(df, ts_col, bucket_seconds)
    t_ok = lambda c: F.when(F.col(c).isNotNull(), F.col(ts_col))  # noqa: E731
    summary = df2.groupBy("__b").agg(
        *[F.min_by(F.col(c), t_ok(c)).alias(f"__first_{c}") for c in cols])
    wnext = Window.orderBy("__b").rowsBetween(1, Window.unboundedFollowing)
    carry = summary.select(
        "__b", *[F.first(f"__first_{c}", ignorenulls=True).over(wnext)
                 .alias(f"__carry_{c}") for c in cols])
    out = df2.join(F.broadcast(carry), "__b", "left")
    win = (Window.partitionBy("__b").orderBy(ts_col)
           .rowsBetween(0, Window.unboundedFollowing))
    for c in cols:
        out = out.withColumn(c, F.coalesce(
            F.first(c, ignorenulls=True).over(win), F.col(f"__carry_{c}")))
    return out.drop("__b", *[f"__carry_{c}" for c in cols])


def interpolate_linear_bucketed(df: DataFrame, ts_col: str, cols: Sequence[str],
                                bucket_seconds: float) -> DataFrame:
    """Linear interpolation, bucketed: each bucket carries its boundary
    (value, ts) PAIRS both directions so a gap spanning buckets
    interpolates against the true neighbors (test-pinned ≡
    :func:`interpolate_linear`). The pair travels as one struct — carrying
    value and timestamp separately could mix fields from different rows."""
    df2 = _bucketed(df, ts_col, bucket_seconds)
    t = F.col(ts_col).cast("double")
    pair = lambda c: F.struct(t.alias("t"), F.col(c).alias("v"))  # noqa: E731
    t_ok = lambda c: F.when(F.col(c).isNotNull(), F.col(ts_col))  # noqa: E731
    summary = df2.groupBy("__b").agg(
        *[F.max_by(pair(c), t_ok(c)).alias(f"__last_{c}") for c in cols],
        *[F.min_by(pair(c), t_ok(c)).alias(f"__first_{c}") for c in cols])
    wprev = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy("__b").rowsBetween(1, Window.unboundedFollowing)
    carry = summary.select(
        "__b",
        *[F.last(f"__last_{c}", ignorenulls=True).over(wprev)
          .alias(f"__cprev_{c}") for c in cols],
        *[F.first(f"__first_{c}", ignorenulls=True).over(wnext)
          .alias(f"__cnext_{c}") for c in cols])
    out = df2.join(F.broadcast(carry), "__b", "left")
    wb = (Window.partitionBy("__b").orderBy(ts_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    wf = (Window.partitionBy("__b").orderBy(ts_col)
          .rowsBetween(1, Window.unboundedFollowing))
    for c in cols:
        v = F.col(c)
        # in-bucket neighbor (value, ts) come from the SAME frame+condition,
        # so both fall back to the carried struct together
        prev_v = F.coalesce(
            F.last(F.when(v.isNotNull(), v), ignorenulls=True).over(wb),
            F.col(f"__cprev_{c}")["v"])
        prev_t = F.coalesce(
            F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wb),
            F.col(f"__cprev_{c}")["t"])
        next_v = F.coalesce(
            F.first(F.when(v.isNotNull(), v), ignorenulls=True).over(wf),
            F.col(f"__cnext_{c}")["v"])
        next_t = F.coalesce(
            F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wf),
            F.col(f"__cnext_{c}")["t"])
        interp = prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t)
        filled = (F.when(v.isNotNull(), v)
                  .when(prev_v.isNull(), next_v)
                  .when(next_v.isNull(), prev_v)
                  .otherwise(interp))
        out = out.withColumn(c, filled)
    drop = (["__b"] + [f"__cprev_{c}" for c in cols]
            + [f"__cnext_{c}" for c in cols])
    return out.drop(*drop)


# ---------------------------------------------------------------------------
# As-of / range joins (SURVEY.md §2.12: sensor-enrichment joins the driver
# harness requires; absent from the reference, which has no joins at all)
# ---------------------------------------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, partition_by: Sequence[str],
              ts_col: str, right_value_cols: Sequence[str],
              prefix: str = "asof_") -> DataFrame:
    """Backward as-of join: for every left row, the most recent right row
    with the same key and ``right.ts <= left.ts``.

    Scalable single-shuffle implementation: tag both sides, union, ONE
    window per key ordered by (ts, tag) — right rows sort before left rows
    at equal timestamps so "at-or-before" includes ties — then
    ``last(value, ignorenulls=True)`` carries each right value forward onto
    subsequent left rows. No per-row probe, no nested-loop join: cost is one
    shuffle of |L|+|R| keyed by the series key, vs. the naive
    inequality-join's |L|·|R| blowup. (This is the standard Spark as-of
    pattern; Flink/QuestDB call it ASOF JOIN, pandas merge_asof.)
    """
    keys = list(partition_by)
    lcols = [c for c in left.columns]
    # the matched right ROW travels as ONE struct: carrying each value
    # column independently with last(ignorenulls) would resurrect stale
    # non-null values past a matched row whose field is NULL, fabricating a
    # row that never existed (mixed fields from different right rows)
    rstruct_t = "struct<" + ",".join(
        f"{c}:{dict(right.dtypes)[c]}" for c in right_value_cols) + ">"
    tagged_l = left.select(
        *lcols, F.lit(1).alias("__tag"),
        F.lit(None).cast(rstruct_t).alias("__r"))
    tagged_r = right.select(
        *[F.col(c) if c in keys + [ts_col] else F.lit(None).cast(t).alias(c)
          for c, t in [(c, dict(left.dtypes).get(c, "string")) for c in lcols]],
        F.lit(0).alias("__tag"),
        F.struct(*[F.col(c) for c in right_value_cols]).alias("__r"))
    unioned = tagged_l.unionByName(tagged_r)
    w = (Window.partitionBy(*keys).orderBy(ts_col, "__tag")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = F.last("__r", ignorenulls=True).over(w)
    out = unioned.withColumn("__r", carried).where(F.col("__tag") == 1)
    for c in right_value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col("__r")[c])
    return out.drop("__tag", "__r")


def range_join_bucketed(left: DataFrame, right: DataFrame, left_ts: str,
                        right_ts: str, lo_seconds: int, hi_seconds: int,
                        bucket_seconds: int | None = None) -> DataFrame:
    """Range join ``right_ts ∈ [left_ts + lo, left_ts + hi]`` WITHOUT a
    nested-loop: bucket both sides by time, replicate each right row into
    every bucket its window can touch (``explode(sequence(...))`` — bounded
    by (hi-lo)/bucket + 2 replicas), equi-join on the bucket, then apply the
    exact range predicate.

    On a naive plan Spark turns a pure inequality join into
    BroadcastNestedLoopJoin (quadratic); the bucket key makes it a hash join
    whose fan-out is the true match density. Returns the joined frame; the
    caller aggregates.
    """
    span = hi_seconds - lo_seconds
    bucket_seconds = bucket_seconds or max(span, 1)
    lb = F.floor(F.col(left_ts).cast("double") / bucket_seconds).cast("long")
    l2 = left.withColumn("__bucket", lb)
    r_start = F.floor((F.col(right_ts).cast("double") - hi_seconds) / bucket_seconds).cast("long")
    r_end = F.floor((F.col(right_ts).cast("double") - lo_seconds) / bucket_seconds).cast("long")
    r2 = right.withColumn("__bucket", F.explode(F.sequence(r_start, r_end)))
    cond = ((l2["__bucket"] == r2["__bucket"])
            & (r2[right_ts].cast("double") >= l2[left_ts].cast("double") + lo_seconds)
            & (r2[right_ts].cast("double") <= l2[left_ts].cast("double") + hi_seconds))
    return l2.join(r2, cond).drop("__bucket")


def sessionize(df: DataFrame, ts_col: str, partition_by: Sequence[str],
               gap_seconds: float, session_col: str = "session_id") -> DataFrame:
    """Sessionization: a new session starts when the gap to the previous
    event in the same series exceeds ``gap_seconds``. session_id = running
    count of session starts (one window pass, one shuffle on the key).
    The streaming twin is ``streaming/pipeline.streaming_sessionize``
    (``F.session_window``; emits per-session aggregates, not per-event
    labels — see its docstring for the exact-gap boundary difference)."""
    w = _window(ts_col, partition_by)
    prev = F.lag(F.col(ts_col).cast("double")).over(w)
    is_new = (prev.isNull()
              | ((F.col(ts_col).cast("double") - prev) > gap_seconds)).cast("bigint")
    wsum = _window(ts_col, partition_by).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(session_col, F.sum(is_new).over(wsum))


# ---------------------------------------------------------------------------
# Ordered prefix split (reference datapipeline.py:404-424) & positional zip
# ---------------------------------------------------------------------------

def prefix_split(df: DataFrame, ts_col: str, train_fraction: float = 0.8,
                 test_fraction: float = 0.1,
                 partition_by: Sequence[str] | None = None) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic prefix split by fraction — first 80% of the ORDERED
    stream is train (reference uses ``keras.utils.split_dataset`` twice,
    datapipeline.py:413-416; NOT a random split, Appendix A.9; fraction-sum
    assert at :409).

    Implemented rank-free at scale: compute the fraction thresholds as
    timestamp quantiles (``approx_quantile`` with tight tolerance would be
    the 100 TB path; exact percentile here) and filter — no global sort, no
    row_number over one task.
    """
    if not (0 < train_fraction + test_fraction <= 1.0 + 1e-9):
        raise AssertionError("fractions must sum to at most 1")
    t = F.col(ts_col).cast("double")
    # both thresholds from one percentile aggregate: one count map over t
    ps = F.percentile(t, F.array(F.lit(float(train_fraction)),
                                 F.lit(float(train_fraction + test_fraction))))
    if partition_by:
        # per-series thresholds: one grouped percentile agg (tiny result —
        # one row per key) broadcast-joined back; each series gets its own
        # 80/10/10 prefix, never a global ordering
        q = (df.groupBy(*partition_by).agg(ps.alias("__ps"))
               .select(*partition_by, F.col("__ps")[0].alias("__t_train"),
                       F.col("__ps")[1].alias("__t_test")))
        j = df.join(F.broadcast(q), list(partition_by))
        # the join moves partition keys to the front; restore input order so
        # both branches return the same schema
        train = j.where(t <= F.col("__t_train")).select(*df.columns)
        test = j.where((t > F.col("__t_train")) & (t <= F.col("__t_test"))) \
                .select(*df.columns)
        eval_df = j.where(t > F.col("__t_test")).select(*df.columns)
        return train, test, eval_df
    # no non-null t: percentile is null and every split is empty
    t_train, t_test = df.agg(ps).first()[0] or (None, None)
    train = df.where(t <= t_train)
    test = df.where((t > t_train) & (t <= t_test))
    eval_df = df.where(t > t_test)
    return train, test, eval_df


def zip_by_position(left: DataFrame, right: DataFrame, order_left: str,
                    order_right: str) -> DataFrame:
    """Positional zip of two plans (reference ``zip_datasets``,
    tfdataset.py:177-183). Positional alignment is an anti-pattern in Spark
    (SURVEY.md §2.3) — derive both column-sets from ONE plan when possible;
    this fallback aligns by a GLOBAL row number over an explicit ordering
    key of each side and inner-joins on it. ``monotonically_increasing_id``
    alone is NOT stable and is deliberately not used. The row number is
    the distributed two-pass prefix (relational.global_prefix: range
    shuffle + per-partition ranks + P-row offset broadcast), NOT a
    single-task ``Window.orderBy`` — positional semantics stay exact
    while both sides enumerate in parallel (round 13)."""
    from powerdatapipeline_spark.operators.relational import global_prefix

    lt = global_prefix(left, [order_left], rn_col="__rn")
    rt = global_prefix(right, [order_right], rn_col="__rn")
    return lt.join(rt, "__rn", "inner").drop("__rn")


def supervised_pair(df: DataFrame, input_cols: Sequence[str],
                    target_cols: Sequence[str]) -> DataFrame:
    """Input/target pairing from ONE plan (replaces the reference's
    positional zip of two parallel streams, datapipeline.py:427-474 →
    SURVEY.md §3.2): both column-sets come from the same DataFrame, so
    alignment is by construction."""
    return df.select(
        F.struct(*[F.col(c) for c in input_cols]).alias("input"),
        F.struct(*[F.col(c) for c in target_cols]).alias("target"),
    )


def _season_slot(ts_col: str, period: str):
    """ONE definition of the period→slot mapping so the profile and the
    deviation sides can never desynchronize. NOTE for oracle authors:
    Spark ``dayofweek`` is 1=Sunday..7=Saturday while DuckDB's
    ``dayofweek`` is 0=Sunday..6 — a 'dow' oracle must spell
    ``dayofweek(ts) + 1`` (the registered q96/q97 use 'hour', identical
    in both engines)."""
    if period == "hour":
        return F.hour(F.col(ts_col))
    if period == "dow":
        return F.dayofweek(F.col(ts_col))
    raise ValueError(f"unknown period {period!r} (use 'hour' or 'dow')")


def seasonal_profile(df: DataFrame, ts_col: str, value_col: str,
                     partition_by: Sequence[str],
                     period: str = "hour") -> DataFrame:
    """Seasonal baseline profile per series key: exact mean / population
    std of ``value_col`` for each (key, season-slot) — slot = hour-of-day
    (``period='hour'``) or day-of-week (``'dow'``). This is the
    load-profile primitive of grid analytics (the reference's domain —
    its per-column normalization, reference datapipeline/
    tfdataset_utilities.py:81-105, is the season-blind special case).

    Parity-grade arithmetic (the stats._moments discipline): products
    formed in double (exact IEEE at these magnitudes), rounded
    identically into decimal(38,10), summed EXACTLY (partition-order
    independent); population variance ``(n·Σx² − (Σx)²) / n²`` with the
    final tree in double, sqrt rounded to 6 — bit-reproducible against
    any ANSI-SQL oracle.

    Scale: one map-side-combined aggregate keyed by (keys, slot) —
    at most |keys|·24 (or ·7) groups; no window, no sort."""
    slot = _season_slot(ts_col, period)
    xd = F.col(value_col).cast("double")
    agg = (df.groupBy(*partition_by, slot.cast("int").alias("slot"))
           .agg(F.count(value_col).cast("bigint").alias("n"),
                F.sum(xd.cast("decimal(38,10)")).alias("__sx"),
                F.sum((xd * xd).cast("decimal(38,10)")).alias("__sxx")))
    n = F.col("n").cast("double")
    sx, sxx = F.col("__sx").cast("double"), F.col("__sxx").cast("double")
    var = (n * sxx - sx * sx) / (n * n)
    return agg.select(*partition_by, "slot", "n",
                      F.round(sx / n, 6).alias("profile_mean"),
                      F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
                       .alias("profile_std"))


def deviation_from_profile(df: DataFrame, ts_col: str, value_col: str,
                           partition_by: Sequence[str],
                           period: str = "hour",
                           min_std: float = 1e-9) -> DataFrame:
    """Seasonal-anomaly score per row: z = (value − profile_mean) /
    profile_std against the :func:`seasonal_profile` baseline of the
    row's own (key, slot). The standard grid-telemetry anomaly shape —
    "this feeder is 3σ above its usual 6 pm load".

    The profile is |keys|·slots rows, joined back to the fact scan with
    NO forced broadcast: with AQE on, the runtime size of the aggregate
    output decides — low-cardinality keys (q97's event_type) broadcast
    automatically, while a millions-of-series profile (which a forced
    ``F.broadcast`` would OOM on — the same rule similarity.py applies
    to large query batches) falls back to a shuffle join sized by the
    optimizer. Slots with ~zero variance (constant baseline) yield NULL
    z instead of ±inf, via the ``min_std`` floor.

    Semantics notes: rows whose ``ts_col`` is NULL get a NULL slot and
    are DROPPED by the inner join (a NULL-timestamp reading has no
    baseline to deviate from); the output adds the reserved columns
    ``slot``/``n``/``profile_mean``/``profile_std``/``z_score`` — an
    input frame already carrying any of them is refused loudly instead
    of silently shadowed."""
    reserved = {"slot", "n", "profile_mean", "profile_std", "z_score"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with the profile "
            "output columns; rename them before scoring")
    slot = _season_slot(ts_col, period)
    prof = seasonal_profile(df, ts_col, value_col, partition_by, period)
    keyed = df.withColumn("slot", slot.cast("int"))
    joined = keyed.join(prof, [*partition_by, "slot"])
    z = F.when(F.col("profile_std") > min_std,
               F.round((F.col(value_col) - F.col("profile_mean"))
                       / F.col("profile_std"), 6))
    return joined.withColumn("z_score", z)


def ewma_fir(df: DataFrame, order_cols: Sequence[str], value_col: str,
             partition_by: Sequence[str], alpha: float = 0.3,
             taps: int = 8, out_col: str = "ewma") -> DataFrame:
    """Exponentially-weighted moving average as a FIR (finite-impulse)
    filter: ``s_i = Σ_{k<taps} α(1−α)^k · x_{i−k} / Σ α(1−α)^k`` over the
    lags actually present — the telemetry-smoothing primitive (load
    smoothing, sensor denoising) in its scale-friendly form.

    The textbook IIR recursion ``s_i = αx_i + (1−α)s_{i−1}`` is a serial
    scan — it cannot parallelize and its closed-form rewrite overflows
    ``(1−α)^{−i}`` beyond a few thousand rows. Truncating the impulse
    response at ``taps`` terms (weight beyond tap 8 at α=0.3 is
    0.7⁸ ≈ 5.7%, renormalized away) turns it into a bounded window of
    ``lag()`` expressions: a single per-series window pass, whole-stage
    codegen, no Python, no recursion. Normalizing by the weights PRESENT
    makes the series head well-defined (the first row is just x₀).

    The weights are embedded as exact double literals and the numerator/
    denominator are LEFT-associated sums, so any engine replaying this
    expression tree reproduces the result bit-for-bit (rounded to 6).
    ``order_cols`` must be a total order per series (include a tiebreak
    id when timestamps can collide) — a nondeterministic lag order would
    change results between runs.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if taps < 1:
        raise ValueError(f"taps must be >= 1, got {taps}")
    w = Window.partitionBy(*partition_by).orderBy(*order_cols)
    x = F.col(value_col).cast("double")
    num = None
    den = None
    for k in range(taps):
        wk = F.lit(float(alpha * (1.0 - alpha) ** k))
        xk = x if k == 0 else F.lag(x, k).over(w)
        nterm = F.when(xk.isNotNull(), wk * xk).otherwise(F.lit(0.0))
        dterm = F.when(xk.isNotNull(), wk).otherwise(F.lit(0.0))
        num = nterm if num is None else num + nterm
        den = dterm if den is None else den + dterm
    return df.withColumn(out_col,
                         F.round(F.when(den > 0, num / den), 6))


def event_funnel(df: DataFrame, ts_col: str, user_col: str, type_col: str,
                 steps: Sequence[str]) -> DataFrame:
    """Ordered event-funnel analysis: for steps (A, B, C, …) count the
    users who performed A, then B STRICTLY AFTER their first qualifying
    A, then C strictly after that B — the product-analytics conversion
    funnel (view → click → purchase), which is also the grid-ops
    alarm-escalation shape (warning → fault → outage).

    Semantics: a user qualifies for step i+1 at the EARLIEST event of
    that type after their step-i qualifying time (first-touch
    attribution; the earliest-qualifying chain maximizes conversion
    counts, so the funnel is order-greedy-optimal for 2 steps and the
    standard reported variant beyond). Returns one row per step with
    user counts and the step-over-step conversion rate.

    Scale shape: step i+1 is one keyed equi-join of the type-filtered
    event scan against the step-i survivor frame (user-cardinality — it
    only shrinks down the funnel) followed by a grouped min. Each join
    shuffles on the user key or broadcasts the survivor side under AQE;
    the event scan is filtered to ONE type per stage at the parquet
    reader. No windows, no per-user sort.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    ts = F.col(ts_col)
    prev = None
    survivors: list[DataFrame] = []
    counts: list[tuple[str, DataFrame]] = []
    for step in steps:
        ev = df.where(F.col(type_col) == step)
        if prev is None:
            cur = ev.groupBy(user_col).agg(F.min(ts).alias("__t"))
        else:
            cur = (ev.join(prev.select(user_col,
                                       F.col("__t").alias("__pt")),
                           user_col)
                   .where(ts > F.col("__pt"))
                   .groupBy(user_col).agg(F.min(ts).alias("__t")))
        # each survivor frame feeds BOTH the next stage's join and its
        # own count — persisted, or every later stage replays the whole
        # prior join chain (measured: 6 parquet scans for 3 steps)
        cur = cur.persist()
        survivors.append(cur)
        counts.append((step, cur.agg(
            F.count("*").cast("bigint").alias("__n"))))
        prev = cur
    stage = None
    for i, (step, cnt) in enumerate(counts):
        row = cnt.select(F.lit(i + 1).cast("int").alias("step"),
                         F.lit(step).alias(type_col),
                         F.col("__n").alias("n_users"))
        stage = row if stage is None else stage.unionAll(row)
    w = Window.orderBy("step")
    conv = F.when(F.lag("n_users").over(w) > 0,
                  F.round(F.col("n_users").cast("double")
                          / F.lag("n_users").over(w), 6))
    try:
        return (stage.withColumn("conversion", conv)
                .orderBy("step")
                .localCheckpoint(eager=True))
    finally:
        for s in survivors:
            s.unpersist()


def retention_cohorts(df: DataFrame, ts_col: str, user_col: str,
                      bucket_seconds: int = 604_800) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the fixed-width
    time bucket (default weekly) of their FIRST activity; each (cohort,
    offset) cell counts the cohort's users active ``offset`` buckets
    later, with retention = cell / cohort size — the
    who-keeps-coming-back table every activity dataset gets asked for.

    Bucketing is pure epoch arithmetic (``floor(epoch/width)``), not
    calendar truncation — engine-portable (no week-start or timezone
    convention to disagree on) and a narrow map. Shape: one distinct
    over (user, bucket) — the only corpus-sized shuffle — then a grouped
    min joined back on the user key; the final matrix is
    cohorts×offsets-sized and the cohort-size divisor arrives by a
    broadcast join of the offset-0 slice, not a second scan.
    """
    b = F.floor(F.col(ts_col).cast("double") / F.lit(float(bucket_seconds))) \
         .cast("bigint")
    # persisted: the (user, bucket) frame feeds the first-activity agg
    # AND the cell join — unpersisted, each consumer rescans the corpus
    activity = (df.select(F.col(user_col), b.alias("__b")).distinct()
                .persist())
    first = activity.groupBy(user_col).agg(F.min("__b").alias("cohort"))
    cells = (activity.join(first, user_col)
             .groupBy("cohort", (F.col("__b") - F.col("cohort"))
                      .cast("int").alias("week_offset"))
             .agg(F.countDistinct(user_col).cast("bigint")
                  .alias("n_active")))
    base = (cells.where(F.col("week_offset") == 0)
            .select("cohort", F.col("n_active").alias("__base")))
    try:
        return (cells.join(F.broadcast(base), "cohort")
                .select("cohort", "week_offset", "n_active",
                        F.round(F.col("n_active").cast("double")
                                / F.col("__base"), 6).alias("retention"))
                .localCheckpoint(eager=True))
    finally:
        activity.unpersist()


def interpolation_join(left: DataFrame, right: DataFrame,
                       partition_by: Sequence[str], ts_col: str,
                       value_col: str,
                       out_col: str = "interp_value") -> DataFrame:
    """Sample-at-event join: for every left row, the right series' value
    LINEARLY INTERPOLATED at the left timestamp — the telemetry
    enrichment shape ("what was the sensor reading when this event
    fired?") that an as-of join answers step-wise and this answers
    continuously. An exact-timestamp right row wins outright; a left
    timestamp outside the right series' span takes the nearest endpoint
    (clamp, the standard sample-and-hold convention); a key with no
    right rows yields NULL.

    Scale shape: the asof_join union trick run in BOTH directions — tag
    the sides, union, ONE window pass per key carrying the bracketing
    right (ts, value) pairs backward and forward — so the cost is one
    |L|+|R| shuffle keyed by the series, never an inequality join's
    |L|·|R| probe. The interpolation factor is plain double arithmetic
    on epoch seconds, oracle-reproducible.
    """
    keys = list(partition_by)
    lcols = list(left.columns)
    rtypes = dict(right.dtypes)
    pair_t = f"struct<ts:double,v:{rtypes[value_col]}>"
    tagged_l = left.select(
        *lcols, F.lit(1).alias("__tag"),
        F.lit(None).cast(pair_t).alias("__p"))
    ltypes = dict(left.dtypes)
    tagged_r = right.select(
        *[F.col(c) if c in keys + [ts_col]
          else F.lit(None).cast(ltypes.get(c, "string")).alias(c)
          for c in lcols],
        F.lit(0).alias("__tag"),
        F.struct(F.col(ts_col).cast("double").alias("ts"),
                 F.col(value_col).alias("v")).alias("__p"))
    unioned = tagged_l.unionByName(tagged_r)
    # right rows sort before left at equal ts, so an exact-ts right row
    # lands in the backward carry (factor 0 → its own value); the value
    # field breaks ties BETWEEN right rows sharing a timestamp, making
    # the bracketing choice deterministic (backward picks max value,
    # forward picks min — the oracle's arg_max/arg_min convention)
    order = [F.col(ts_col), F.col("__tag"), F.col("__p")["v"]]
    wb = (Window.partitionBy(*keys).orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy(*keys).orderBy(*order)
          .rowsBetween(0, Window.unboundedFollowing))
    # the brackets MUST materialize as columns BEFORE the tag filter: a
    # window expression referenced after .where(tag == 1) would evaluate
    # over the filtered (left-only) frame and never see a right row
    carried = (unioned
               .withColumn("__b", F.last("__p", ignorenulls=True).over(wb))
               .withColumn("__a", F.first("__p", ignorenulls=True).over(wf))
               .where(F.col("__tag") == 1))
    t = F.col(ts_col).cast("double")
    before, after = F.col("__b"), F.col("__a")
    tb, vb = before["ts"], before["v"].cast("double")
    ta, va = after["ts"], after["v"].cast("double")
    interp = (
        F.when(before.isNull() & after.isNull(), F.lit(None))
        .when(before.isNull(), va)            # before span start: clamp
        .when(after.isNull(), vb)             # past span end: clamp
        .when(ta == tb, vb)                   # exact hit / zero gap
        .otherwise(vb + (va - vb) * (t - tb) / (ta - tb)))
    return (carried
            .withColumn(out_col, F.round(interp, 6))
            .drop("__tag", "__p", "__b", "__a"))


def energy_integral(df: DataFrame, ts_col: str, value_col: str,
                    partition_by: Sequence[str],
                    method: str = "trapezoid") -> DataFrame:
    """Time integral of a rate series per key — the power-domain
    primitive (kW readings → kWh energy): irregular sampling means a
    plain AVG is wrong; the integral weights each reading by the time
    it was in force. ``trapezoid`` integrates ((v_i + v_{i+1})/2)·Δt
    (piecewise-linear signal), ``left`` integrates v_i·Δt
    (sample-and-hold meters). Also emits the TIME-WEIGHTED average
    (integral / span) — the TWAP every tariff/settlement calculation
    uses instead of the row-weighted mean.

    One ``lead()`` window pass per series + a map-side-combined grouped
    sum over exact decimals (bit-reproducible, partition-order-free).
    Single-reading series have zero span: NULL average, 0 integral.
    """
    if method not in ("trapezoid", "left"):
        raise ValueError(f"method must be 'trapezoid' or 'left', got {method!r}")
    t = F.col(ts_col).cast("double")
    v = F.col(value_col).cast("double")
    # (ts, value) order: duplicate timestamps within a series would make
    # the lead() pairing — and the integral — run-order-dependent under
    # a ts-only sort (the streaming-EWMA tie lesson); equal (ts, value)
    # pairs segment identically, so this is fully deterministic
    w = Window.partitionBy(*partition_by).orderBy(ts_col, v)
    dt = F.lead(t).over(w) - t
    v_next = F.lead(v).over(w)
    seg = (v + v_next) / 2.0 * dt if method == "trapezoid" else v * dt
    # per-segment round(…,6) BEFORE the decimal cast (the q81 term
    # recipe): segment magnitudes put decimal(38,10)'s 10th fractional
    # digit at the 17-significant-digit shortest-repr edge, where
    # engines' double→decimal casts disagree; 6 decimals is far inside
    # the exactly-reproducible range
    stepped = df.withColumn("__seg", F.round(seg, 6))
    out = (stepped.groupBy(*partition_by)
           .agg(F.sum(F.col("__seg").cast("decimal(38,10)"))
                .alias("__int"),
                (F.max(t) - F.min(t)).alias("__span"),
                F.count("*").cast("bigint").alias("n_readings")))
    integral = F.coalesce(F.col("__int").cast("double"), F.lit(0.0))
    twap = F.when(F.col("__span") > 0, integral / F.col("__span"))
    return out.select(*partition_by, "n_readings",
                      F.round(integral, 6).alias("integral"),
                      F.round(F.col("__span"), 6).alias("span_seconds"),
                      F.round(twap, 6).alias("time_weighted_avg"))


def peak_analysis(df: DataFrame, ts_col: str, value_col: str,
                  partition_by: Sequence[str],
                  bucket_seconds: int = 86_400) -> DataFrame:
    """Per-(key, bucket) peak statistics — the demand-charge shape on
    grid telemetry: peak load, mean load, peak-to-average ratio, and
    the timestamp AT the peak (earliest on ties, total-ordered via
    min-of-struct — no second scan, no window sort). One
    map-side-combined aggregation keyed by (key, epoch bucket)."""
    b = F.floor(F.col(ts_col).cast("double") / F.lit(float(bucket_seconds))) \
         .cast("bigint")
    v = F.col(value_col).cast("double")
    t = F.col(ts_col).cast("double")
    # min of (-value, ts) = (max value, earliest ts at that value)
    peak_pick = F.min(F.struct((-v).alias("nv"), t.alias("ts")))
    # decimal-exact mean (partition-order-free) per the parity rules —
    # a plain double avg() folds in task order
    mean = (F.sum(v.cast("decimal(38,10)")).cast("double")
            / F.count("*"))
    out = (df.withColumn("__b", b)
           .groupBy(*partition_by, "__b")
           .agg(F.max(v).alias("__peak"),
                mean.alias("__mean"),
                peak_pick.alias("__pp"),
                F.count("*").cast("bigint").alias("n_readings")))
    par = F.when(F.col("__mean") != 0, F.col("__peak") / F.col("__mean"))
    return out.select(
        *partition_by, F.col("__b").alias("bucket"), "n_readings",
        F.round(F.col("__peak"), 6).alias("peak"),
        F.round(F.col("__mean"), 6).alias("mean_load"),
        F.round(par, 6).alias("peak_to_avg"),
        F.col("__pp")["ts"].alias("peak_ts_seconds"))


def load_duration_curve(df: DataFrame, value_col: str,
                        partition_by: Sequence[str] = (),
                        points: int = 20) -> DataFrame:
    """Load-duration curve per key: the value exceeded for each duration
    fraction d ∈ {0, 1/points, …, 1} — the sorted-load-vs-time chart
    power engineers read capacity factors from. Exceedance duality:
    the load exceeded for fraction d of the time is the (1−d) quantile,
    so the whole curve is ONE exact-percentile aggregate over the
    ``points+1`` interpolated quantiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the bit-identical pair) exploded to
    (duration_frac, load) rows — never a global sort of the readings.
    """
    if points < 1:
        raise ValueError(f"points must be >= 1, got {points}")
    v = F.col(value_col).cast("double")
    fracs = [i / points for i in range(points + 1)]
    percs = F.percentile(v, [1.0 - d for d in fracs])
    agg = (df.groupBy(*partition_by)
           .agg(percs.alias("__q"),
                F.count("*").cast("bigint").alias("n_readings")))
    pairs = F.array(*[
        F.struct(F.lit(round(d, 6)).alias("duration_frac"),
                 F.round(F.element_at(F.col("__q"), i + 1), 6)
                 .alias("load"))
        for i, d in enumerate(fracs)])
    return (agg.select(*partition_by, "n_readings",
                       F.explode(pairs).alias("p"))
            .select(*partition_by, "n_readings",
                    "p.duration_frac", "p.load"))


def gap_report(df: DataFrame, ts_col: str, partition_by: Sequence[str],
               expected_seconds: float, eps: float = 1e-6) -> DataFrame:
    """Per-series cadence-gap REPORT — the observability twin of
    :func:`check_intervals` (which asserts): for each series, how many
    gaps exceed the declared cadence, how many ticks are missing in
    total, the worst gap, and the completeness ratio
    ``n_readings / (span/expected + 1)`` — the meter-health table a
    fleet operator reads before trusting a feed.

    One lead() window pass per series + a map-side-combined aggregate.
    A gap of ``g`` seconds hides ``round(g/expected) − 1`` missing
    ticks; ``eps`` absorbs float cadence jitter. Single-reading series
    report completeness 1.0 (nothing to miss within a zero span).
    """
    if expected_seconds <= 0:
        raise ValueError(
            f"expected_seconds must be > 0, got {expected_seconds}")
    w = Window.partitionBy(*partition_by).orderBy(ts_col)
    t = F.col(ts_col).cast("double")
    iv = F.lead(t).over(w) - t
    is_gap = iv > expected_seconds + eps
    missing = F.when(is_gap,
                     F.round(iv / F.lit(float(expected_seconds)), 0) - 1) \
               .otherwise(F.lit(0.0))
    stepped = df.select(*partition_by, t.alias("__t"),
                        iv.alias("__iv"), is_gap.alias("__g"),
                        missing.alias("__m"))
    agg = (stepped.groupBy(*partition_by)
           .agg(F.count("*").cast("bigint").alias("n_readings"),
                F.sum(F.col("__g").cast("bigint")).alias("n_gaps"),
                F.sum("__m").cast("bigint").alias("missing_ticks"),
                F.max("__iv").alias("__maxiv"),
                (F.max("__t") - F.min("__t")).alias("__span")))
    expect_n = F.round(F.col("__span")
                       / F.lit(float(expected_seconds)), 0) + 1
    completeness = F.when(F.col("__span") > 0,
                          F.col("n_readings") / expect_n) \
                    .otherwise(F.lit(1.0))
    return agg.select(
        *partition_by, "n_readings",
        F.coalesce(F.col("n_gaps"), F.lit(0)).alias("n_gaps"),
        F.coalesce(F.col("missing_ticks"), F.lit(0))
        .alias("missing_ticks"),
        F.round(F.col("__maxiv"), 6).alias("max_gap_seconds"),
        F.round(completeness, 6).alias("completeness"))


def cusum_changepoints(df: DataFrame, ts_col: str, value_col: str,
                       partition_by: Sequence[str],
                       threshold_sigmas: float = 5.0,
                       order_cols: Sequence[str] = ()) -> DataFrame:
    """CUSUM level-shift detection per series: the running sum of
    standardized deviations ``S_i = Σ (x_j − μ)/σ`` drifts away from 0
    when the series' level shifts — the classic telemetry changepoint
    flag (a feeder re-baselining, a sensor recalibrated); rows where
    ``|S_i| > threshold_sigmas·√i`` are flagged (the √i normalization
    makes the threshold a z-score on the random-walk envelope, so the
    false-positive rate is level-independent).

    Constant series (σ = 0) are EXCLUDED from the output — there is no
    scale on which to standardize, and a level "shift" of a constant
    series is better caught by the gap/interval reports.

    Two passes: a per-series decimal-exact (μ, σ) aggregate broadcast
    back, then ONE ordered window cumsum per series of the 6-rounded
    standardized terms (exact decimal — partition-order-free). For a
    single giant series the cumsum has the documented bucketed
    prefix-sum escape (text.cumulative_sum_bucketed). ``order_cols``
    must break timestamp ties (pass the event id).
    """
    keys = list(partition_by)
    v = F.col(value_col).cast("double")
    stats = (df.groupBy(*keys)
             .agg(F.count("*").alias("__n"),
                  (F.sum(v.cast("decimal(38,10)")).cast("double")
                   / F.count("*")).alias("__mu"),
                  (F.sum((v * v).cast("decimal(38,10)")).cast("double")
                   / F.count("*")).alias("__ex2")))
    # variance can land a hair NEGATIVE for constant series (the decimal
    # rounding of x² vs the exact double μ²) — clamped, or sqrt yields
    # NaN, which passes `> 0` under non-ANSI Spark and ERRORS in DuckDB
    stats = stats.withColumn(
        "__sigma", F.sqrt(F.greatest(
            F.col("__ex2") - F.col("__mu") * F.col("__mu"), F.lit(0.0))))
    joined = df.join(F.broadcast(stats), keys)
    term = F.round((v - F.col("__mu")) / F.col("__sigma"), 6)
    w = (Window.partitionBy(*keys)
         .orderBy(ts_col, *order_cols)
         .rowsBetween(Window.unboundedPreceding, 0))
    cusum = F.sum(term.cast("decimal(38,10)")).over(w).cast("double")
    i = F.row_number().over(Window.partitionBy(*keys)
                            .orderBy(ts_col, *order_cols))
    out = (joined.where(F.col("__sigma") > 0)
           .withColumn("cusum", F.round(cusum, 6))
           .withColumn("__i", i)
           .withColumn("is_shift",
                       F.abs(F.col("cusum"))
                       > F.lit(float(threshold_sigmas)) * F.sqrt(F.col("__i"))))
    return out.drop("__n", "__mu", "__ex2", "__sigma", "__i")


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          start_col: str = "start", end_col: str = "end",
                          bucket_seconds: float = 3600.0,
                          suffixes: tuple[str, str] = ("_a", "_b"),
                          extra_cond=None) -> DataFrame:
    """Interval×interval OVERLAP join (both sides are [start, end]
    ranges — the harder sibling of the point-in-range join, q38): pairs
    where ``l.start <= r.end AND r.start <= l.end`` (closed intervals),
    with ``overlap_seconds`` attached. The segment-alignment primitive
    for audio/video span data and concurrent-session analytics.

    Scale shape — the naive form is a cross join with an inequality
    predicate (BNLJ, quadratic); this rewrite is the bucketed
    equi-join: each interval explodes to the time buckets it covers,
    pairs meet in a shared bucket (equi-join key!), and the classic
    FIRST-SHARED-BUCKET guard ``bucket == max(floor(l.start/b),
    floor(r.start/b))`` emits every pair exactly once — no DISTINCT
    pass. Cost is Σ span/bucket copies of each row and a hash join;
    pick ``bucket_seconds`` near the median interval length so the
    explode factor stays O(1) (same tuning rule as q38's docstring).
    Long-tail intervals that span many buckets are the skew caveat —
    cap or split pathological spans upstream.

    ``extra_cond`` (a Column over the suffixed pair frame) pushes an
    additional pair predicate (e.g. different-user) INTO the join, so
    non-qualifying pairs never materialize."""
    if bucket_seconds <= 0:
        raise ValueError(f"bucket_seconds must be > 0, got {bucket_seconds}")
    sa, sb = suffixes
    if sa == sb:
        raise ValueError("suffixes must differ (self-joins would collide)")
    b = float(bucket_seconds)

    def prep(df: DataFrame, suf: str) -> DataFrame:
        s = F.col(start_col).cast("double")
        e = F.col(end_col).cast("double")
        renamed = df.select(
            *[F.col(c).alias(f"{c}{suf}") for c in df.columns])
        # suffix the bucket too: a self-join (left is right) would make
        # a shared name unresolvable
        return renamed.withColumn(
            f"__bucket{suf}",
            F.explode(F.sequence(
                F.floor(F.col(f"{start_col}{suf}").cast("double") / b),
                F.floor(F.col(f"{end_col}{suf}").cast("double") / b))))

    l = prep(left, sa)
    r = prep(right, sb)
    la, lb = F.col(f"{start_col}{sa}").cast("double"), \
        F.col(f"{end_col}{sa}").cast("double")
    ra, rb = F.col(f"{start_col}{sb}").cast("double"), \
        F.col(f"{end_col}{sb}").cast("double")
    cond = ((F.col(f"__bucket{sa}") == F.col(f"__bucket{sb}"))
            & (F.col(f"__bucket{sa}") ==
               F.greatest(F.floor(la / b), F.floor(ra / b)))
            & (la <= rb) & (ra <= lb))
    if extra_cond is not None:
        cond = cond & extra_cond
    joined = (l.join(r, on=cond, how="inner")
              .drop(f"__bucket{sa}", f"__bucket{sb}"))
    return joined.withColumn(
        "overlap_seconds",
        F.least(lb, rb) - F.greatest(la, ra))


def transition_matrix(df: DataFrame, ts_col: str, state_col: str,
                      partition_by: Sequence[str],
                      tiebreak: str | None = None) -> DataFrame:
    """First-order Markov transition matrix over an event stream: for
    each series, pair every event's state with its predecessor's (lag
    over the per-series time order) and reduce to ``(from_state,
    to_state, n_transitions, prob)`` where ``prob`` is row-normalized
    per ``from_state`` (6-rounded; the count stays exact). The
    navigation-flow summary beside the funnel (q109) and retention
    (q110) views.

    Scale shape: one shuffle on the series key for the lag window, then
    a map-side-combined groupBy on the tiny state×state key space; the
    normalizing total is a window over #states rows. Ordering ties
    break on ``tiebreak`` (e.g. the event id) so the lag is total-
    ordered and engine-reproducible."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*partition_by).orderBy(*order)
    pairs = (df.withColumn("__prev", F.lag(F.col(state_col)).over(w))
             .where(F.col("__prev").isNotNull()))
    counts = (pairs.groupBy(F.col("__prev").alias("from_state"),
                            F.col(state_col).alias("to_state"))
              .agg(F.count("*").cast("bigint").alias("n_transitions")))
    w_from = Window.partitionBy("from_state")
    return counts.withColumn(
        "prob", F.round(F.col("n_transitions")
                        / F.sum("n_transitions").over(w_from), 6))


def rolling_distinct(df: DataFrame, ts_col: str = "ts",
                     id_col: str = "user_id", window_buckets: int = 7,
                     bucket_seconds: float = 86400.0) -> DataFrame:
    """Rolling-window distinct count ("7-day active users"): for every
    observed time bucket, the number of distinct ids seen in the
    ``window_buckets`` buckets ending there. COUNT(DISTINCT) OVER a
    RANGE frame does not exist in either engine, and the naive
    day×day range self-join rescans the id set per window; this is the
    scalable rewrite:

    1. ONE distinct pass reduces the stream to (bucket, id) pairs —
       at 100 TB this is the only pass that touches raw events, and it
       is a map-side-combinable groupBy;
    2. each pair replicates to the ≤ ``window_buckets`` window-end
       buckets it can serve (narrow ``explode(sequence)``, the
       range_join_bucketed trick applied to a rolling frame);
    3. windows that end on a bucket with no events are dropped by a
       broadcast semi-join against the observed-bucket set (#buckets is
       tiny by construction — days, not rows);
    4. one final countDistinct per window-end bucket.

    Cost: 2 shuffles, fan-out exactly ``window_buckets``×|distinct
    pairs|. The HLL twin :func:`rolling_distinct_sketch` replicates
    per-bucket SKETCHES instead of pairs (fan-out ``window_buckets``×
    #buckets rows of fixed-size sketch bytes — independent of
    cardinality), which is the 100 TB production path; this exact
    variant is its oracle-checkable counterpart.

    Returns ``(window_end_day, n_active, n_id_buckets)`` where
    ``n_id_buckets`` = Σ per-bucket distinct counts over the window
    (the de-dup denominator: n_id_buckets/n_active = avg buckets an
    active id appears in)."""
    day = (F.floor(F.col(ts_col).cast("double") / F.lit(bucket_seconds))
           .cast("bigint"))
    du = (df.select(day.alias("__day"), F.col(id_col).alias("__uid"))
          .distinct())
    days = du.select(F.col("__day").alias("__wday")).distinct()
    ex = du.select(
        F.explode(F.sequence(F.col("__day"),
                             F.col("__day") + F.lit(window_buckets - 1)))
        .alias("__wday"), "__uid")
    win = ex.join(F.broadcast(days), "__wday", "left_semi")
    return (win.groupBy("__wday")
            .agg(F.countDistinct("__uid").cast("bigint").alias("n_active"),
                 F.count("*").cast("bigint").alias("n_id_buckets"))
            .select(F.col("__wday").alias("window_end_day"),
                    "n_active", "n_id_buckets"))


def rolling_distinct_sketch(df: DataFrame, ts_col: str = "ts",
                            id_col: str = "user_id",
                            window_buckets: int = 7,
                            bucket_seconds: float = 86400.0,
                            lg_config_k: int = 12) -> DataFrame:
    """HLL-sketch twin of :func:`rolling_distinct` — the 100 TB path:
    raw events reduce ONCE to one fixed-size HLL sketch per bucket
    (map-side partial aggregation), and only sketch rows (#buckets of
    them, kilobytes each) replicate across window ends and merge with
    ``hll_union_agg``. Unlike the exact path, the window fan-out is
    independent of id cardinality. Accuracy contract pinned by pytest
    against the exact twin (3σ ≈ 3·1.04/√2^lgK)."""
    day = (F.floor(F.col(ts_col).cast("double") / F.lit(bucket_seconds))
           .cast("bigint"))
    daily = (df.select(day.alias("__day"), F.col(id_col).alias("__uid"))
             .groupBy("__day")
             .agg(F.hll_sketch_agg("__uid", lg_config_k).alias("__sk")))
    days = daily.select(F.col("__day").alias("__wday"))
    ex = daily.select(
        F.explode(F.sequence(F.col("__day"),
                             F.col("__day") + F.lit(window_buckets - 1)))
        .alias("__wday"), "__sk")
    win = ex.join(F.broadcast(days), "__wday", "left_semi")
    return (win.groupBy("__wday")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk"))
                 .alias("est_active"))
            .select(F.col("__wday").alias("window_end_day"), "est_active"))


def asof_join_nearest(left: DataFrame, right: DataFrame,
                      partition_by: Sequence[str], ts_col: str,
                      right_value_cols: Sequence[str],
                      tolerance_seconds: float,
                      prefix: str = "near_") -> DataFrame:
    """Nearest-direction as-of join with tolerance (pandas
    ``merge_asof(direction='nearest', tolerance=...)``): every left row
    matches the closest right row with the same key within
    ``tolerance_seconds`` — before OR after — ties prefer the earlier
    (backward) row. Left rows with no match survive with NULLs.

    Same single-shuffle shape as :func:`asof_join` (tag, union, keyed
    window — never an inequality join): the backward candidate is
    ``last(__r, ignorenulls)`` over (-∞, current] and the forward
    candidate ``first(__r, ignorenulls)`` over [current, +∞), both on
    the SAME window ordering, so the whole operator costs one shuffle
    of |L|+|R| on the series key. At equal timestamps right rows sort
    before left rows, so a same-ts right row is captured by the
    backward pass at distance 0 (which always wins — the forward pass
    missing it is harmless by construction).

    Determinism contract: ``right`` must be unique per (key, ts) —
    aggregate duplicates first (the q159 registry query does), else
    which same-ts row the window carries is partition-order dependent.

    Output: all left columns + ``{prefix}ts`` (matched right ts as
    epoch double), ``{prefix}<value>`` per requested column,
    ``{prefix}direction`` ('backward'/'forward'/NULL) and
    ``{prefix}gap_s``."""
    keys = list(partition_by)
    lcols = list(left.columns)
    rtypes = dict(right.dtypes)
    ltypes = dict(left.dtypes)
    rstruct_t = ("struct<ts:double," + ",".join(
        f"{c}:{rtypes[c]}" for c in right_value_cols) + ">")
    tagged_l = left.select(
        *lcols, F.lit(1).alias("__tag"),
        F.lit(None).cast(rstruct_t).alias("__r"))
    tagged_r = right.select(
        *[F.col(c) if c in keys + [ts_col]
          else F.lit(None).cast(ltypes.get(c, "string")).alias(c)
          for c in lcols],
        F.lit(0).alias("__tag"),
        F.struct(F.col(ts_col).cast("double").alias("ts"),
                 *[F.col(c) for c in right_value_cols]).alias("__r"))
    unioned = tagged_l.unionByName(tagged_r)
    ow = Window.partitionBy(*keys).orderBy(ts_col, "__tag")
    wb = ow.rowsBetween(Window.unboundedPreceding, 0)
    wf = ow.rowsBetween(0, Window.unboundedFollowing)
    lts = F.col(ts_col).cast("double")
    out = (unioned
           .withColumn("__b", F.last("__r", ignorenulls=True).over(wb))
           .withColumn("__f", F.first("__r", ignorenulls=True).over(wf))
           .where(F.col("__tag") == 1))
    db = lts - F.col("__b.ts")
    df_ = F.col("__f.ts") - lts
    bok = F.col("__b").isNotNull() & (db <= F.lit(tolerance_seconds))
    fok = F.col("__f").isNotNull() & (df_ <= F.lit(tolerance_seconds))
    use_b = bok & (~fok | (db <= df_))
    use_f = fok & ~use_b
    chosen = F.when(use_b, F.col("__b")).when(use_f, F.col("__f"))
    out = (out.withColumn("__m", chosen)
           .withColumn(f"{prefix}direction",
                       F.when(use_b, F.lit("backward"))
                       .when(use_f, F.lit("forward")))
           .withColumn(f"{prefix}gap_s",
                       F.when(use_b, db).when(use_f, df_)))
    out = out.withColumn(f"{prefix}ts", F.col("__m.ts"))
    for c in right_value_cols:
        out = out.withColumn(f"{prefix}{c}", F.col("__m")[c])
    return out.drop("__tag", "__r", "__b", "__f", "__m")


def acf(df: DataFrame, ts_col: str = "ts", value_col: str = "value",
        max_lag: int = 12, bucket_seconds: int = 3600) -> DataFrame:
    """Autocorrelation function of a bucketed series at lags 1..max_lag —
    the classical seasonality/persistence diagnostic (a peak at lag 24
    on hourly buckets ⇒ daily cycle) that complements the repo's grid
    operators: period detection (readers.detect_period) finds the
    sampling interval, the seasonal profile (q96) ASSUMES a period —
    ACF is how you discover one in the signal itself.

    Shape: the series is first reduced to per-bucket means (floor
    epoch/bucket_seconds — decimal-exact sums), then each bucket row is
    replicated once per lag via a literal-array explode and EQUI-joined
    back on ``bucket + k`` (one join for ALL lags; never an inequality
    or window over a global order — the series stays hash-partitioned
    by bucket, so at 100 TB this is a narrow max_lag× fan-out of an
    already-aggregated frame). Missing buckets simply produce no pair —
    the pairwise-available estimator over an irregular grid; the
    denominator is the full-series Σ(x-x̄)² (the standard biased
    normalizer), so |r_k| ≤ 1 under any gap pattern.

    r_k = Σ(x_b-x̄)(x_{b+k}-x̄) / Σ(x-x̄)², expanded to decimal-exact
    raw moments (Σx0·xk, Σx0, Σxk, m per lag; n, Σx, Σx² globally) so
    both engines combine the SAME doubles; the 1-row global-moment
    frame joins by scalar broadcast (annotated in the plan audit).
    Returns ``(lag, n_pairs, acf)`` with acf 6-rounded, NULL for a
    zero-variance series."""
    if max_lag < 1:
        raise ValueError(f"max_lag must be >= 1, got {max_lag}")
    x = F.col(value_col).cast("double")
    series = (df
              .where(F.col(ts_col).isNotNull() & x.isNotNull())
              .groupBy(F.floor(F.col(ts_col).cast("double")
                               / F.lit(float(bucket_seconds)))
                       .cast("bigint").alias("b"))
              .agg((F.sum(x.cast("decimal(28,12)")).cast("double")
                    / F.count("*")).alias("x")))
    glob = series.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(28,12)")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double").alias("sxx"))
    lags = F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
    probes = (series.select(F.col("x").alias("x0"),
                            F.explode(lags).alias("lag"),
                            (F.col("b") + F.col("lag")).alias("b"))
              .join(series.withColumnRenamed("x", "xk"), "b"))
    per_lag = probes.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.col("x0").cast("decimal(28,12)")).cast("double").alias("s0"),
        F.sum(F.col("xk").cast("decimal(28,12)")).cast("double").alias("sk"),
        F.sum((F.col("x0") * F.col("xk")).cast("decimal(28,12)"))
        .cast("double").alias("s0k"))
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    denom = F.col("sxx") - n * mean * mean
    num = (F.col("s0k") - mean * F.col("s0") - mean * F.col("sk")
           + F.col("n_pairs").cast("double") * mean * mean)
    return (per_lag.crossJoin(F.broadcast(glob))
            .select(F.col("lag").cast("bigint").alias("lag"), "n_pairs",
                    F.when(denom > 0, F.round(num / denom, 6))
                    .alias("acf"))
            .orderBy("lag"))


def seasonal_decompose_profile(df: DataFrame, ts_col: str = "ts",
                               value_col: str = "value",
                               period: int = 24,
                               bucket_seconds: int = 3600) -> DataFrame:
    """Classical additive seasonal decomposition, profile form — the
    trend/seasonal split q96's seasonal profile skips: q96 averages RAW
    values by hour-of-day, so any multi-day trend (load growth, a cold
    spell) leaks straight into the "seasonal" shape; the classical
    method (Macaulay 1931, the STL precursor) first removes a centered
    2×period moving-average TREND and only then profiles the
    detrended remainder by phase.

    Grid + trend are built shuffle-lean: per-bucket means (6-rounded),
    then each bucket row is replicated once per window offset
    (literal-range explode, the q168 lag-join shape) and EQUI-joined
    to its target bucket — never a ROWS-frame window over a global
    order. The 2×period CMA takes the ±period/2 edge terms at half
    weight: halving a 6-rounded double is EXACT (power-of-two), so
    every decimal-cast term sits on the scale-7 grid (the parity-safe
    class). Trend exists only where the full window (period+1
    contributors) is present — classical edge semantics, gaps
    propagate honestly instead of averaging over holes.

    Returns one row per phase (bucket % period): ``(phase, n,
    sum_value, sum_detrended)`` — exact decimal sums of 6-rounded
    values, published as components (the mean-of-6-rounded roundings
    are the tie-prone class; see SCALE.md round-8f). The seasonal
    index is ``sum_detrended/n`` minus its phase-average, derived by
    the caller."""
    if period < 2 or period % 2 != 0:
        raise ValueError(
            f"period must be an even integer >= 2 (2x{period} centered "
            f"moving average), got {period}")
    half = period // 2
    x = F.col(value_col).cast("double")
    series = (df
              .where(F.col(ts_col).isNotNull() & x.isNotNull())
              .groupBy(F.floor(F.col(ts_col).cast("double")
                               / F.lit(float(bucket_seconds)))
                       .cast("bigint").alias("b"))
              .agg(F.round(F.sum(x.cast("decimal(28,12)")).cast("double")
                           / F.count("*"), 6).alias("x")))
    term = F.when(F.abs(F.col("o")) == half, F.col("x") / 2) \
            .otherwise(F.col("x"))
    contrib = (series
               .select("x", F.explode(F.sequence(F.lit(-half),
                                                 F.lit(half))).alias("o"),
                       (F.col("b") - F.col("o")).alias("t"))
               .select("t", term.alias("term")))
    trend = (contrib.groupBy("t")
             .agg(F.count("*").alias("m"),
                  F.sum(F.col("term").cast("decimal(28,12)"))
                  .cast("double").alias("s"))
             .where(F.col("m") == period + 1)
             .select("t", (F.col("s") / period).alias("trend")))
    det = (series.join(trend, series["b"] == trend["t"])
           .select("b", "x",
                   F.round(F.col("x") - F.col("trend"), 6).alias("det")))
    return (det.groupBy((F.col("b") % period).cast("bigint").alias("phase"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
                 .alias("sum_value"),
                 F.sum(F.col("det").cast("decimal(18,6)")).cast("double")
                 .alias("sum_detrended")))


def cross_correlation(df: DataFrame, ts_col: str, type_col: str,
                      type_a: str, type_b: str, max_lag: int = 12,
                      bucket_seconds: int = 3600) -> DataFrame:
    """Lagged cross-correlation between two event streams' bucketed
    COUNT series — the lead/lag diagnostic beside :func:`acf` (auto)
    and q152's contemporaneous Pearson matrix: do errors spike k hours
    AFTER clicks surge, does signup volume lead purchase volume? The
    peak-lag answer drives alerting windows and feature-lag choices in
    supervised pairing (q43).

    Shape (the acf discipline): each stream reduces to per-bucket
    BIGINT counts first (map-side combined; the corpus never joins
    itself), stream A's tiny bucket frame fans out once per lag in
    0..max_lag via a literal-array explode and equi-joins stream B on
    ``bucket + lag`` — one hash join for ALL lags, no window over a
    global order, partitioned by bucket at any scale. Counts are
    integers, so ALL five moment sums per lag are EXACT
    (BIGINT/DECIMAL(38,0)); the only doubles are the final Pearson
    ratio per lag (fixed expression, floor6). Pairwise-complete: a
    bucket missing from either stream contributes no pair at that lag.
    Returns ``(lag, n_pairs, r)`` with r NULL when either side is
    constant over the paired buckets."""
    if max_lag < 0:
        raise ValueError(f"max_lag must be >= 0, got {max_lag}")

    def counts(tv: str, out: str) -> DataFrame:
        return (df.where(F.col(ts_col).isNotNull()
                         & (F.col(type_col) == tv))
                .groupBy(F.floor(F.col(ts_col).cast("double")
                                 / F.lit(float(bucket_seconds)))
                         .cast("bigint").alias("b"))
                .agg(F.count("*").cast("bigint").alias(out)))

    ca, cb = counts(type_a, "xa"), counts(type_b, "xb")
    lags = F.array(*[F.lit(k) for k in range(0, max_lag + 1)])
    probes = (ca.select("xa", F.explode(lags).alias("lag"),
                        (F.col("b") + F.col("lag")).alias("b"))
              .join(cb, "b"))
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    per = probes.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("m"),
        # widen before the sum: sum(decimal(19,0)) accumulates at
        # (29,0) — overflow at ~1e29 micro-mass (VERDICT r10 #4 audit)
        F.sum(dec("xa").cast("decimal(38,0)")).alias("sx"),
        F.sum(dec("xb").cast("decimal(38,0)")).alias("sy"),
        F.sum((dec("xa") * dec("xb")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum((dec("xa") * dec("xa")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum((dec("xb") * dec("xb")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("syy"))
    md = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    da = md * F.col("sxx").cast("double") - sx * sx
    db = md * F.col("syy").cast("double") - sy * sy
    num = md * F.col("sxy").cast("double") - sx * sy
    r6 = (F.floor(num / (F.sqrt(da) * F.sqrt(db))
                  * F.lit(1_000_000.0) + F.lit(0.5)).cast("double")
          / F.lit(1_000_000.0))
    return (per.select(F.col("lag").cast("bigint").alias("lag"),
                       F.col("m").alias("n_pairs"),
                       F.when((da > 0) & (db > 0), r6).alias("r"))
            .orderBy("lag"))


def mann_kendall(df: DataFrame, ts_col: str = "ts",
                 value_col: str = "value",
                 bucket_seconds: int = 86400) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope on the bucketed daily-mean
    series — the nonparametric is-it-drifting verdict beside q188's
    Spearman-vs-time (same question, different statistic: MK counts
    concordant pairs, publishes an effect SIZE in units/bucket via
    Sen's median slope, and has the classical tie-corrected normal
    approximation).

    Scale contract: the corpus reduces to per-bucket means FIRST (one
    map-side-combined groupBy; exact decimal sums, floor6-rounded so
    pair differences are engine-identical), and the O(m²/2) pair frame
    is built over THAT — m is CALENDAR-bounded (days in the window),
    not corpus-bounded, so the pair count never grows with data volume
    (30 days = 435 pairs at 100 TB exactly as at sf0.001; the plan's
    nested-loop pair join is annotated in PLANS.md as bucket-bounded).
    S = Σ sign(v_j − v_i) over i<j is exact BIGINT; the tie-corrected
    variance [m(m−1)(2m+5) − Σt(t−1)(2t+5)]/18 is exact integer
    arithmetic from the distinct-value frame; Sen's slope is the LOWER
    MEDIAN of pairwise slopes selected by deterministic row_number
    (slope, i, j) — no engine-divergent percentile semantics. Returns
    one row: ``(n_buckets, n_pairs, s, var_s, z, sen_slope)`` with
    z = (S∓1)/√var (0 when S=0), NULL when var = 0."""
    x = F.col(value_col).cast("double")
    days = (df.where(F.col(ts_col).isNotNull() & x.isNotNull())
            .groupBy(F.floor(F.col(ts_col).cast("double")
                             / F.lit(float(bucket_seconds)))
                     .cast("bigint").alias("d"))
            .agg((F.floor(F.sum(x.cast("decimal(28,12)")).cast("double")
                          / F.count("*") * F.lit(1_000_000.0) + F.lit(0.5))
                  .cast("double") / F.lit(1_000_000.0)).alias("v")))
    a = days.select(F.col("d").alias("di"), F.col("v").alias("vi"))
    b = days.select(F.col("d").alias("dj"), F.col("v").alias("vj"))
    # bucket-bounded pair frame: |days|^2/2 rows regardless of corpus
    # size (calendar-bounded, the docstring contract)
    pairs = a.join(b, F.col("dj") > F.col("di"))
    slope = (F.col("vj") - F.col("vi")) \
        / (F.col("dj") - F.col("di")).cast("double")
    sgn = F.signum(F.col("vj") - F.col("vi")).cast("bigint")
    pw = pairs.select("di", "dj", slope.alias("slope"), sgn.alias("sgn"))
    agg = pw.agg(F.count("*").cast("bigint").alias("n_pairs"),
                 F.sum("sgn").cast("bigint").alias("s"))
    wmed = Window.orderBy("slope", "di", "dj")
    med = (pw.withColumn("__rn", F.row_number().over(wmed))
           .withColumn("__cnt", F.count("*").over(
               Window.partitionBy(F.lit(1))))
           .where(F.col("__rn") == F.floor((F.col("__cnt") + 1) / 2))
           .select(F.col("slope").alias("sen_slope")))
    tdec = lambda: F.col("t").cast("decimal(19,0)")
    ties = (days.groupBy("v").agg(F.count("*").cast("bigint").alias("t"))
            # n_buckets = Σt (the DAY count), not the distinct-value
            # count — a flat series has 1 distinct value but m days
            .agg(F.sum("t").cast("bigint").alias("n_buckets"),
                 F.sum(tdec() * (tdec() - 1) * (2 * tdec() + 5))
                 .cast("decimal(38,0)").alias("__tt")))
    out = agg.crossJoin(F.broadcast(ties)).crossJoin(F.broadcast(med))
    m = F.col("n_buckets").cast("double")
    var_s = (m * (m - 1) * (2 * m + 5)
             - F.col("__tt").cast("double")) / F.lit(18.0)
    sd = F.col("s").cast("double")
    z = F.when(F.col("s") > 0, (sd - 1) / F.sqrt(var_s)) \
        .when(F.col("s") < 0, (sd + 1) / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return out.select(
        "n_buckets", "n_pairs", "s",
        fl6(var_s).alias("var_s"),
        F.when(var_s > 0, fl6(z)).alias("z"),
        fl6(F.col("sen_slope")).alias("sen_slope"))


def sequence_ngrams(df: DataFrame, ts_col: str, key_col: str,
                    state_col: str, n: int = 3, top_k: int = 25,
                    tiebreak_col: str | None = None) -> DataFrame:
    """Top-k length-n event-type sequences per entity — higher-order
    sequential pattern mining over the 1-step Markov transition matrix
    (:func:`transition_matrix`, q147): which 3-step paths dominate the
    corpus (view→click→purchase vs view→error→view decides funnel
    instrumentation and session features).

    Shape: ONE entity-keyed window (hash-partitioned by key; order
    (ts, tiebreak) is deterministic under timestamp ties) emits the n
    leads per row — no collect_list, no per-entity memory ceiling —
    then a map-side-combined count and a (count desc, gram asc) top-k.
    Exact integers throughout. Returns ``(s1..sn, n_occurrences)``."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    cols = [F.col(state_col).alias("s1")]
    base = df.where(F.col(ts_col).isNotNull()
                    & F.col(state_col).isNotNull()
                    & F.col(key_col).isNotNull())
    for i in range(1, n):
        cols.append(F.lead(state_col, i).over(w).alias(f"s{i + 1}"))
    grams = base.select(*cols).where(
        F.col(f"s{n}").isNotNull())
    names = [f"s{i}" for i in range(1, n + 1)]
    return (grams.groupBy(*names)
            .agg(F.count("*").cast("bigint").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"),
                     *[F.asc(c) for c in names])
            .limit(top_k))


def seasonal_quantile_bands(df: DataFrame, ts_col: str = "ts",
                            value_col: str = "value",
                            bucket_seconds: int = 3600,
                            period: int = 24,
                            quantiles: Sequence[float] = (0.1, 0.5, 0.9)
                            ) -> DataFrame:
    """Per-seasonal-slot exact quantile bands (default p10/p50/p90 per
    hour-of-day) — the DISTRIBUTIONAL seasonal profile beside the mean
    profile (q96) and its anomaly flags (q97): band width per slot is
    the expected operating range, and a reading outside its slot's
    p10-p90 band is an anomaly verdict robust to the heavy tails that
    inflate a mean±kσ gate.

    Exact grouped quantiles WITHOUT per-row windows: values collapse
    to the per-(slot, distinct value) count frame (map-side combined),
    one cumulative pass per slot over THAT frame, and each requested
    quantile selects the smallest value whose cumulative count reaches
    position ⌊q·(n−1)+0.5⌋+1 (the deterministic nearest-rank rule the
    quantile-normalize dictionary uses). Returns one row per slot:
    ``(slot, n, q_<pct>...)``."""
    for q in quantiles:
        if not 0 < q < 1:
            raise ValueError(f"quantiles must be in (0, 1), got {q}")
    v = F.round(F.col(value_col).cast("double"), 6)
    slot = (F.floor(F.col(ts_col).cast("double")
                    / F.lit(float(bucket_seconds))).cast("bigint")
            % period).alias("slot")
    per = (df.where(F.col(ts_col).isNotNull() & v.isNotNull())
           .select(slot, v.alias("__v"))
           .groupBy("slot", "__v")
           .agg(F.count("*").cast("bigint").alias("c")))
    wcum = Window.partitionBy("slot").orderBy("__v") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("slot")
    staged = (per.withColumn("cum", F.sum("c").over(wcum))
              .withColumn("n", F.sum("c").over(wall)))
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in quantiles:
        pos = (F.floor(F.lit(float(q))
                       * (F.col("n") - 1).cast("double") + F.lit(0.5))
               + 1)
        name = f"q_{int(round(q * 100)):02d}"
        aggs.append(F.min(F.when(F.col("cum") >= pos, F.col("__v")))
                    .alias(name))
    return staged.groupBy("slot").agg(*aggs).orderBy("slot")


def load_coincidence(df: DataFrame, ts_col: str = "ts",
                     group_col: str = "event_type",
                     value_col: str = "value",
                     bucket_seconds: int = 3600) -> DataFrame:
    """Load factor / coincidence factor report — the classic power-grid
    demand aggregation (reference domain: ANL power data; per-feeder
    peak vs system peak drives capacity planning): bucket each group's
    load into ``bucket_seconds`` intervals, then per group report the
    peak interval load, when it happened, the load factor (mean/peak),
    the group's load at the SYSTEM peak interval, and the system-wide
    coincidence factor (system peak / Σ group peaks — < 1 exactly when
    group peaks don't line up).

    Parity/scale design: interval loads are exact decimal(38,10) sums
    (partition-order-free), so peak selection and the peak-interval
    argmax (min interval among exact-decimal ties) are deterministic in
    both engines; every ratio is computed in double at the end and
    6-rounded. One shuffle on (group, bucket), one on group; the system
    frame is a 1-row broadcast; the per-group frame is |groups| rows.
    Returns ``(group, n_buckets, peak_load, peak_bucket, load_factor,
    load_at_system_peak, coincidence_factor)`` ordered by group."""
    g = F.col(group_col).alias("g")
    hourly = (df.where(F.col(ts_col).isNotNull()
                       & F.col(value_col).isNotNull()
                       & F.col(group_col).isNotNull())
              .select(g, F.floor(F.col(ts_col).cast("double")
                                 / F.lit(float(bucket_seconds)))
                      .cast("bigint").alias("b"),
                      F.col(value_col).cast("double").alias("v"))
              .groupBy("g", "b")
              .agg(F.sum(F.col("v").cast("decimal(38,10)")).alias("load")))
    per = (hourly.groupBy("g")
           .agg(F.count("*").cast("bigint").alias("n_buckets"),
                F.max("load").alias("peak"),
                F.sum("load").alias("tot")))
    peak_b = (hourly.join(per.select("g", "peak"), "g")
              .where(F.col("load") == F.col("peak"))
              .groupBy("g").agg(F.min("b").alias("peak_bucket")))
    sys_hourly = hourly.groupBy("b").agg(F.sum("load").alias("sload"))
    sys_row = (sys_hourly
               .agg(F.max("sload").alias("sys_peak"))
               .crossJoin(F.broadcast(
                   per.agg(F.sum("peak").alias("sum_peaks")))))
    sys_b = (sys_hourly.crossJoin(F.broadcast(sys_row))
             .where(F.col("sload") == F.col("sys_peak"))
             .agg(F.min("b").alias("sys_peak_bucket")))
    at_sys = (hourly.join(F.broadcast(sys_b),
                          hourly["b"] == sys_b["sys_peak_bucket"])
              .select("g", F.col("load").alias("at_peak")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (per.join(peak_b, "g")
            .join(at_sys, "g", "left")
            .crossJoin(F.broadcast(sys_row))
            .select(F.col("g").alias(group_col), "n_buckets",
                    F.col("peak").cast("double").alias("peak_load"),
                    "peak_bucket",
                    fl6(F.col("tot").cast("double")
                        / F.col("n_buckets").cast("double")
                        / F.col("peak").cast("double"))
                    .alias("load_factor"),
                    F.coalesce(F.col("at_peak").cast("double"),
                               F.lit(0.0)).alias("load_at_system_peak"),
                    fl6(F.col("sys_peak").cast("double")
                        / F.col("sum_peaks").cast("double"))
                    .alias("coincidence_factor"))
            .orderBy(group_col))


def changepoint_binary_seg(df: DataFrame, ts_col: str = "ts",
                           value_col: str = "value",
                           bucket_seconds: int = 86400) -> DataFrame:
    """Single change-point detection (one binary-segmentation step) on
    the bucketed load series — "when did the level shift?" for grid
    telemetry: the split k maximizing the between-segment sum-of-squares
    reduction gain(k) = S_L²/n_L + S_R²/n_R − S²/n (equivalent to the
    two-segment least-squares fit; Scott & Knott / CUSUM-square family,
    the offline companion to the streaming CUSUM operator).

    Parity/scale design: the corpus collapses to the |buckets| frame
    first (exact decimal(38,10) sums, one shuffle); prefix sums are
    DECIMAL window cumsums over that tiny ordered frame — exact, so
    both engines derive bit-identical doubles and the argmax needs no
    epsilon (day tiebreak only for exact ties). The single-partition
    window is on the aggregated frame (|days|), never the raw series.
    Returns one row ``(split_bucket, n_buckets, gain, mean_left,
    mean_right)`` — the last bucket of the LEFT segment; ratios floor6."""
    daily = (df.where(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
             .select(F.floor(F.col(ts_col).cast("double")
                             / F.lit(float(bucket_seconds)))
                     .cast("bigint").alias("b"),
                     F.col(value_col).cast("double").alias("v"))
             .groupBy("b")
             .agg(F.sum(F.col("v").cast("decimal(38,10)")).alias("ld")))
    tot = daily.agg(F.sum("ld").alias("s"),
                    F.count("*").cast("bigint").alias("n"))
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    kw = Window.orderBy("b")
    staged = (daily
              .withColumn("sl", F.sum("ld").over(w))
              .withColumn("k", F.row_number().over(kw).cast("bigint"))
              .crossJoin(F.broadcast(tot))
              .where(F.col("k") < F.col("n")))
    sl = F.col("sl").cast("double")
    s = F.col("s").cast("double")
    sr = (F.col("s") - F.col("sl")).cast("double")
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    gain = (sl * sl / kd + sr * sr / (nd - kd) - s * s / nd)
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (staged
            .select(F.col("b").alias("split_bucket"),
                    F.col("n").alias("n_buckets"),
                    gain.alias("__g"),
                    fl6(sl / kd).alias("mean_left"),
                    fl6(sr / (nd - kd)).alias("mean_right"))
            .orderBy(F.desc("__g"), F.asc("split_bucket"))
            .limit(1)
            .select("split_bucket", "n_buckets",
                    fl6(F.col("__g")).alias("gain"),
                    "mean_left", "mean_right"))


def forecast_backtest_naive(df: DataFrame, ts_col: str = "ts",
                            group_col: str = "event_type",
                            value_col: str = "value",
                            bucket_seconds: int = 3600,
                            lag_buckets: int = 168) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every load
    forecaster must beat (reference domain: grid load is dominated by
    the weekly cycle, so ŷ(t) = y(t − 168 h) is the standard
    persistence benchmark): per group, score the lag-``lag_buckets``
    persistence forecast on every bucket where both the actual and the
    lagged actual exist, reporting MAE, RMSE, bias and MAPE.

    Parity/scale design: the corpus reduces to exact-decimal interval
    loads first (one shuffle); the forecast join is a self equi-join
    on ``(group, bucket − lag)`` — keyed, no window, no sort. Errors
    are computed in double from the identical decimal-cast loads, then
    decimal-cast again for partition-order-free sums; RMSE's sqrt is
    IEEE-exact; every metric floor6. Returns ``(group, n_scored, mae,
    rmse, bias, mape)`` (mape over nonzero actuals only, NULL if
    none)."""
    g = F.col(group_col).alias("g")
    hourly = (df.where(F.col(ts_col).isNotNull()
                       & F.col(value_col).isNotNull()
                       & F.col(group_col).isNotNull())
              .select(g, F.floor(F.col(ts_col).cast("double")
                                 / F.lit(float(bucket_seconds)))
                      .cast("bigint").alias("b"),
                      F.col(value_col).cast("double").alias("v"))
              .groupBy("g", "b")
              .agg(F.sum(F.col("v").cast("decimal(38,10)")).alias("ld")))
    actual = hourly.select("g", "b", F.col("ld").cast("double").alias("y"))
    lagged = hourly.select(F.col("g").alias("g2"),
                           (F.col("b") + lag_buckets).alias("b2"),
                           F.col("ld").cast("double").alias("yhat"))
    scored = (actual.join(lagged, (F.col("g") == F.col("g2"))
                          & (F.col("b") == F.col("b2")))
              .select("g", (F.col("y") - F.col("yhat")).alias("e"),
                      "y"))
    dec = lambda c: c.cast("decimal(38,10)")
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    agg = (scored.groupBy("g")
           .agg(F.count("*").cast("bigint").alias("n_scored"),
                F.sum(dec(F.abs(F.col("e")))).alias("sae"),
                F.sum(dec(F.col("e") * F.col("e"))).alias("sse"),
                F.sum(dec(F.col("e"))).alias("se"),
                F.sum(F.when(F.col("y") != 0, 1).otherwise(0))
                .cast("bigint").alias("n_nz"),
                F.sum(F.when(F.col("y") != 0,
                             dec(F.abs(F.col("e") / F.col("y")))))
                .alias("sape")))
    nd = F.col("n_scored").cast("double")
    return (agg.select(
        F.col("g").alias(group_col), "n_scored",
        fl6(F.col("sae").cast("double") / nd).alias("mae"),
        fl6(F.sqrt(F.col("sse").cast("double") / nd)).alias("rmse"),
        fl6(F.col("se").cast("double") / nd).alias("bias"),
        F.when(F.col("n_nz") > 0,
               fl6(F.col("sape").cast("double")
                   / F.col("n_nz").cast("double"))).alias("mape"))
        .orderBy(group_col))


def state_durations(df: DataFrame, ts_col: str = "ts",
                    key_col: str = "user_id",
                    state_col: str = "event_type",
                    tiebreak_col: str = "event_id") -> DataFrame:
    """Time-in-state aggregation — duration-weighted state analytics
    (how long do devices/users sit in each state before the next
    transition?), the dwell-time complement to q147's Markov
    transition COUNTS: each event opens an interval in its state that
    closes at the entity's next event; the entity's last event is
    open-ended and excluded (the standard right-censored drop; q181's
    KM operator is the censoring-aware treatment).

    One entity-keyed lead window with a deterministic (ts, tiebreak)
    order — no sort beyond the per-entity window; durations are epoch
    differences 6-rounded (microsecond resolution, lossless) BEFORE
    the decimal(38,10) cast — raw epoch-diff doubles sit exactly where
    the engines' double→decimal roundings can disagree (the q81 term
    recipe, timeseries.py:977). Returns
    ``(state, n_intervals, total_seconds, mean_seconds, max_seconds)``
    ordered by state."""
    e = F.col(ts_col).cast("double")
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(key_col).isNotNull()
                     & F.col(state_col).isNotNull())
            .select(F.col(state_col).alias("state"), e.alias("t"),
                    F.lead(e).over(w).alias("t_next"))
            .where(F.col("t_next").isNotNull())
            .select("state", F.round(F.col("t_next") - F.col("t"), 6)
                    .alias("dur")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (base.groupBy("state")
            .agg(F.count("*").cast("bigint").alias("n_intervals"),
                 F.sum(F.col("dur").cast("decimal(38,10)")).alias("__tot"),
                 F.max("dur").alias("max_seconds"))
            .select("state", "n_intervals",
                    F.col("__tot").cast("double").alias("total_seconds"),
                    fl6(F.col("__tot").cast("double")
                        / F.col("n_intervals").cast("double"))
                    .alias("mean_seconds"),
                    "max_seconds")
            .orderBy("state"))


def last_touch_attribution(df: DataFrame, ts_col: str = "ts",
                           key_col: str = "user_id",
                           type_col: str = "event_type",
                           value_col: str = "value",
                           conversion: str = "purchase",
                           touches: tuple = ("view", "click"),
                           window_seconds: int = 7200) -> DataFrame:
    """Last-touch conversion attribution — every conversion credits
    the user's most recent touch event within ``window_seconds``
    (marketing's default attribution model; the funnel/q109 tells you
    THAT users convert, this tells you which channel gets the
    credit).

    The as-of machinery (q37's union + carried-window discipline —
    NEVER a per-conversion range join): touches and conversions
    union-tag into one frame, one user-keyed window ordered by
    (ts, kind, tiebreak) carries the last touch's type and time
    forward (touches sort before a same-instant conversion, so a
    simultaneous touch is creditable), then each conversion checks the
    carried touch against the window. Exact decimal value sums.
    Returns one row per channel — the two touch types plus
    ``'(none)'`` for out-of-window/never-touched conversions:
    ``(channel, n_conversions, total_value)`` ordered by channel."""
    e = F.col(ts_col).cast("double")
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(key_col).isNotNull()
                     & F.col(type_col).isNotNull())
            .where(F.col(type_col).isin(*touches, conversion)))
    tagged = base.select(
        F.col(key_col).alias("k"), e.alias("t"),
        F.when(F.col(type_col) == conversion, 1).otherwise(0)
        .alias("kind"),
        F.when(F.col(type_col) != conversion, F.col(type_col))
        .alias("touch_type"),
        F.when(F.col(type_col) == conversion,
               F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)))
        .alias("v"),
        F.col("event_id").alias("__tb"))
    w = (Window.partitionBy("k")
         .orderBy(F.col("t").asc(), F.col("kind").asc(),
                  F.col("__tb").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (tagged
               .withColumn("last_touch",
                           F.last("touch_type", ignorenulls=True).over(w))
               .withColumn("last_touch_t",
                           F.last(F.when(F.col("kind") == 0, F.col("t")),
                                  ignorenulls=True).over(w)))
    conv = (carried.where(F.col("kind") == 1)
            .select(F.when(F.col("last_touch").isNotNull()
                           & (F.col("t") - F.col("last_touch_t")
                              <= window_seconds),
                           F.col("last_touch"))
                    .otherwise(F.lit("(none)")).alias("channel"),
                    "v"))
    return (conv.groupBy("channel")
            .agg(F.count("*").cast("bigint").alias("n_conversions"),
                 F.round(F.sum(F.round(F.col("v"), 6)
                               .cast("decimal(38,10)"))
                         .cast("double"), 6).alias("total_value"))
            .orderBy("channel"))


def time_to_convert(df: DataFrame, ts_col: str = "ts",
                    key_col: str = "user_id",
                    type_col: str = "event_type",
                    start_type: str = "view",
                    convert_type: str = "purchase") -> DataFrame:
    """Time-to-convert distribution — the LATENCY companion to q109's
    funnel COUNTS: per user, seconds from the first ``start_type``
    event to the first ``convert_type`` event at-or-after it; report
    the converter count with exact p50/p90 and the mean.

    One conditional-min aggregate per user (no window), durations
    6-rounded (microsecond-lossless, the q219 recipe), quantiles from
    the shared per-distinct-value count-frame finalizer
    (stats.quantiles_from_value_counts — |distinct| frame only), mean
    from the decimal sum. Returns ONE row ``(n_converted, q_50, q_90,
    mean_seconds)``."""
    from powerdatapipeline_spark.operators.stats import \
        quantiles_from_value_counts

    e = F.col(ts_col).cast("double")
    per_user = (df.where(F.col(ts_col).isNotNull()
                         & F.col(key_col).isNotNull()
                         & F.col(type_col).isin(start_type, convert_type))
                .groupBy(key_col)
                .agg(F.min(F.when(F.col(type_col) == start_type, e))
                     .alias("t0")))
    firsts = (df.where(F.col(ts_col).isNotNull()
                       & F.col(key_col).isNotNull()
                       & (F.col(type_col) == convert_type))
              .select(F.col(key_col), e.alias("tc")))
    durs = (per_user.where(F.col("t0").isNotNull())
            .join(firsts, key_col)
            .where(F.col("tc") >= F.col("t0"))
            .groupBy(key_col)
            .agg(F.round(F.min("tc") - F.max("t0"), 6).alias("dur")))
    per = durs.groupBy(F.col("dur").alias("__v")).agg(
        F.count("*").cast("bigint").alias("c"))
    q = quantiles_from_value_counts(per, qs=(0.5, 0.9)) \
        .withColumnRenamed("n", "n_converted")
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    mean = durs.agg(fl6(F.sum(F.col("dur").cast("decimal(38,10)"))
                        .cast("double") / F.count("*"))
                    .alias("mean_seconds"))
    return q.crossJoin(F.broadcast(mean))


def cohort_ltv(df: DataFrame, ts_col: str = "ts",
               key_col: str = "user_id", type_col: str = "event_type",
               value_col: str = "value",
               convert_type: str = "purchase",
               bucket_seconds: int = 604800) -> DataFrame:
    """Cohort lifetime-value curve — the REVENUE companion to q110's
    retention COUNTS: users cohort by the week of their first event
    (any type), and each cohort's purchase revenue is laid out by age
    in weeks — the (cohort × age) triangle a growth team reads LTV
    payback from.

    One min-aggregate per user (cohort assignment), one keyed join of
    the purchase stream against it (no window), exact decimal revenue
    sums, exact BIGINT buyer distincts. Returns ``(cohort_week,
    age_weeks, n_buyers, revenue)`` ordered by (cohort_week,
    age_weeks)."""
    e = F.col(ts_col).cast("double")
    t0 = (df.where(F.col(ts_col).isNotNull()
                   & F.col(key_col).isNotNull())
          .groupBy(key_col)
          .agg(F.floor(F.min(e) / F.lit(float(bucket_seconds)))
               .cast("bigint").alias("cohort_week")))
    buys = (df.where(F.col(ts_col).isNotNull()
                     & F.col(key_col).isNotNull()
                     & (F.col(type_col) == convert_type)
                     & F.col(value_col).isNotNull())
            .select(F.col(key_col),
                    F.floor(e / F.lit(float(bucket_seconds)))
                    .cast("bigint").alias("w"),
                    F.col(value_col).cast("double").alias("v")))
    return (buys.join(t0, key_col)
            .groupBy("cohort_week",
                     (F.col("w") - F.col("cohort_week"))
                     .alias("age_weeks"))
            .agg(F.count_distinct(F.col(key_col)).cast("bigint")
                 .alias("n_buyers"),
                 F.round(F.sum(F.col("v").cast("decimal(38,10)"))
                         .cast("double"), 6).alias("revenue"))
            .orderBy("cohort_week", "age_weeks"))


def periodogram(df: DataFrame, ts_col: str = "ts",
                value_col: str = "value",
                periods_seconds=(21600, 43200, 86400, 604800)
                ) -> DataFrame:
    """Candidate-period power scan (single-frequency DFT probes) — the
    dominant-cycle detector for grid load (is the 24 h or the 168 h
    cycle stronger this month?): for each candidate period T, the
    Fourier amplitude 2·√(a²+b²)/n of the demeaned series at frequency
    1/T, where a = Σ v′·cos(2πt/T), b = Σ v′·sin(2πt/T).

    Parity design: the phase is reduced BEFORE the transcendental —
    t mod T via explicit ``t − floor(t/T)·T`` (exact integer-double
    arithmetic; epoch seconds and integer T stay < 2^53), so cos/sin
    see arguments in [0, 2π) where both engines' libm agree to < 1 ulp,
    then 6-rounded per the transcendental rule; the demeaning constant
    is a floor6 of the exact decimal mean (1-row broadcast); each term
    is a bounded-magnitude double product decimal-cast for
    partition-order-free sums. One corpus scan per call covers ALL
    candidate periods via a small explode. Returns
    ``(period_seconds, n, amplitude)`` ordered by period."""
    import math
    e = F.col(ts_col).cast("double")
    v = F.col(value_col).cast("double")
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(value_col).isNotNull())
            .select(e.alias("t"), v.alias("v")))
    m = base.agg((F.floor(F.sum(F.col("v").cast("decimal(38,10)"))
                          .cast("double") / F.count("*")
                          * F.lit(1_000_000.0) + F.lit(0.5))
                  .cast("double") / F.lit(1_000_000.0)).alias("mean"))
    staged = (base.crossJoin(F.broadcast(m))
              .withColumn("prd", F.explode(F.array(
                  *[F.lit(float(p)) for p in periods_seconds])))
              .withColumn("ph", (F.col("t") - F.floor(F.col("t")
                                                      / F.col("prd"))
                                 * F.col("prd")) / F.col("prd"))
              .withColumn("vd", F.col("v") - F.col("mean")))
    two_pi = F.lit(2.0 * math.pi)
    a_term = F.col("vd") * F.round(F.cos(two_pi * F.col("ph")), 6)
    b_term = F.col("vd") * F.round(F.sin(two_pi * F.col("ph")), 6)
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    agg = (staged.groupBy(F.col("prd").cast("bigint")
                          .alias("period_seconds"))
           .agg(F.count("*").cast("bigint").alias("n"),
                F.sum(a_term.cast("decimal(38,10)")).alias("a"),
                F.sum(b_term.cast("decimal(38,10)")).alias("b")))
    amp = (F.lit(2.0)
           * F.sqrt(F.col("a").cast("double") * F.col("a").cast("double")
                    + F.col("b").cast("double")
                    * F.col("b").cast("double"))
           / F.col("n").cast("double"))
    return (agg.select("period_seconds", "n", fl6(amp).alias("amplitude"))
            .orderBy("period_seconds"))


def session_entry_exit(df: DataFrame, ts_col: str = "ts",
                       key_col: str = "user_id",
                       type_col: str = "event_type",
                       tiebreak_col: str = "event_id",
                       gap_seconds: float = 1800.0) -> DataFrame:
    """Session entry/exit/bounce report — the landing-page analytics
    layer on top of q39's sessionizer: per (entry type, exit type)
    pair, how many sessions start and end there, how many BOUNCE
    (single-event sessions), and the mean session length in events.

    One user-keyed window pass builds session ids (deterministic
    (ts, tiebreak) order, the q39 gap rule); entry/exit come from ONE
    per-session min/max STRUCT aggregate — no second window, no
    join-back ((t, tiebreak) is unique inside a session so the struct
    order is total). Returns ``(entry_type, exit_type, n_sessions,
    n_bounces, avg_events)`` ordered by (entry_type, exit_type)."""
    e = F.col(ts_col).cast("double")
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    prev = F.lag(e).over(w)
    is_new = (prev.isNull() | ((e - prev) > gap_seconds)).cast("bigint")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled = (df.where(F.col(ts_col).isNotNull()
                        & F.col(key_col).isNotNull()
                        & F.col(type_col).isNotNull())
               .withColumn("__sid", F.sum(is_new).over(wsum))
               .select(F.col(key_col).alias("k"), F.col("__sid"),
                       e.alias("t"),
                       F.col(tiebreak_col).alias("tb"),
                       F.col(type_col).alias("et")))
    per = (labeled.groupBy("k", "__sid")
           .agg(F.min(F.struct(F.col("t"), F.col("tb"), F.col("et")))
                .alias("__first"),
                F.max(F.struct(F.col("t"), F.col("tb"), F.col("et")))
                .alias("__last"),
                F.count("*").cast("bigint").alias("n_events")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (per.groupBy(F.col("__first.et").alias("entry_type"),
                        F.col("__last.et").alias("exit_type"))
            .agg(F.count("*").cast("bigint").alias("n_sessions"),
                 F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_bounces"),
                 fl6(F.sum("n_events").cast("double")
                     / F.count("*")).alias("avg_events"))
            .orderBy("entry_type", "exit_type"))


def burstiness_report(df: DataFrame, ts_col: str = "ts",
                      key_col: str = "user_id",
                      type_col: str = "event_type",
                      tiebreak_col: str = "event_id") -> DataFrame:
    """Inter-arrival burstiness per event type — Goh & Barabási's
    B = (σ−μ)/(σ+μ) over per-entity gaps (B→−1 periodic, 0 Poisson,
    →+1 bursty): the arrival-process characterization behind retry
    storms, meter re-send clumps and campaign-driven traffic — q120's
    gap REPORT says how big the holes are, this says what process
    makes them.

    Parity/scale: gaps come from one (entity, type)-keyed lead window
    (deterministic (ts, tiebreak) order), 6-rounded and lifted to
    exact INTEGER MICROSECONDS; Σm and Σm² fold as DECIMAL(38,0) —
    exact integer arithmetic end-to-end (the levene_bf/anova recipe),
    with μ/σ/CV/B derived in double once at the end, floor6. Returns
    ``(type, n_gaps, mean_gap_s, cv, burstiness)``."""
    e = F.col(ts_col).cast("double")
    w = (Window.partitionBy(key_col, type_col)
         .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    g6 = F.round(F.lead(e).over(w) - e, 6)
    m = F.floor(g6 * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint")
    base = (df.where(F.col(ts_col).isNotNull()
                     & F.col(key_col).isNotNull()
                     & F.col(type_col).isNotNull())
            .select(F.col(type_col).alias("g"), m.alias("m"))
            .where(F.col("m").isNotNull()))
    md = F.col("m").cast("decimal(19,0)")
    agg = (base.groupBy("g")
           .agg(F.count("*").cast("bigint").alias("n_gaps"),
                # widen before the sum — (29,0) accumulator otherwise
                F.sum(md.cast("decimal(38,0)")).alias("s"),
                F.sum((md * md).cast("decimal(38,0)"))
                .cast("decimal(38,0)").alias("ss")))
    nd = F.col("n_gaps").cast("double")
    mu = F.col("s").cast("double") / nd / F.lit(1e6)
    var = (F.col("ss").cast("double") / nd
           - (F.col("s").cast("double") / nd)
           * (F.col("s").cast("double") / nd)) / F.lit(1e12)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (agg.select(
        F.col("g").alias(type_col), "n_gaps",
        fl6(mu).alias("mean_gap_s"),
        F.when(mu > 0, fl6(sd / mu)).alias("cv"),
        F.when(sd + mu > 0, fl6((sd - mu) / (sd + mu)))
        .alias("burstiness"))
        .orderBy(type_col))


def changepoint_two_level(df: DataFrame, ts_col: str = "ts",
                          value_col: str = "value",
                          bucket_seconds: int = 86400) -> DataFrame:
    """Two-level binary segmentation — the hierarchical extension of
    :func:`changepoint_binary_seg`: after the best global split, the
    best WITHIN-SEGMENT split anywhere (left or right of the first cut,
    whichever reduces more variance) yields the three-segment partition
    — the standard greedy multi-change-point recursion, unrolled two
    levels so the whole thing stays one declarative plan (no driver
    loop, oracle-replayable).

    Same parity discipline as q209: the corpus collapses to the
    |buckets| frame, prefix sums are exact DECIMAL window cumsums, both
    argmaxes compare bit-identical doubles with bucket tiebreaks.
    Returns ONE row ``(n_buckets, split1_bucket, split2_bucket, gain1,
    gain2, mean_seg1, mean_seg2, mean_seg3)`` (empty when fewer than 3
    buckets exist)."""
    daily = (df.where(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
             .select(F.floor(F.col(ts_col).cast("double")
                             / F.lit(float(bucket_seconds)))
                     .cast("bigint").alias("b"),
                     F.col(value_col).cast("double").alias("v"))
             .groupBy("b")
             .agg(F.sum(F.col("v").cast("decimal(38,10)")).alias("ld")))
    tot = daily.agg(F.sum("ld").alias("s"),
                    F.count("*").cast("bigint").alias("n"))
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = (daily.withColumn("cum", F.sum("ld").over(w))
              .withColumn("k", F.row_number().over(Window.orderBy("b"))
                          .cast("bigint"))
              .crossJoin(F.broadcast(tot)))
    cd = lambda c: F.col(c).cast("double")
    g1 = (cd("cum") * cd("cum") / cd("k")
          + (F.col("s") - F.col("cum")).cast("double")
          * (F.col("s") - F.col("cum")).cast("double")
          / (cd("n") - cd("k"))
          - cd("s") * cd("s") / cd("n"))
    s1 = (staged.where((F.col("k") < F.col("n")) & (F.col("n") >= 3))
          .select(F.col("b").alias("b1"), F.col("k").alias("k1"),
                  F.col("cum").alias("cum1"), g1.alias("g1"))
          .orderBy(F.desc("g1"), F.asc("b1")).limit(1))
    cand = (staged.crossJoin(F.broadcast(s1))
            .where((F.col("k") != F.col("k1")) & (F.col("k") < F.col("n"))))
    left = (cd("cum") * cd("cum") / cd("k")
            + (F.col("cum1") - F.col("cum")).cast("double")
            * (F.col("cum1") - F.col("cum")).cast("double")
            / (cd("k1") - cd("k"))
            - cd("cum1") * cd("cum1") / cd("k1"))
    rc = (F.col("cum") - F.col("cum1")).cast("double")
    rs = (F.col("s") - F.col("cum1")).cast("double")
    right = (rc * rc / (cd("k") - cd("k1"))
             + (F.col("s") - F.col("cum")).cast("double")
             * (F.col("s") - F.col("cum")).cast("double")
             / (cd("n") - cd("k"))
             - rs * rs / (cd("n") - cd("k1")))
    g2 = F.when(F.col("k") < F.col("k1"), left).otherwise(right)
    s2 = (cand.select("b1", "k1", "cum1", "g1",
                      F.col("b").alias("b2"), F.col("k").alias("k2"),
                      F.col("cum").alias("cum2"), g2.alias("g2"))
          .orderBy(F.desc("g2"), F.asc("b2")).limit(1))
    lo_first = F.col("k1") < F.col("k2")
    klo = F.when(lo_first, F.col("k1")).otherwise(F.col("k2"))
    khi = F.when(lo_first, F.col("k2")).otherwise(F.col("k1"))
    cumlo = F.when(lo_first, F.col("cum1")).otherwise(F.col("cum2"))
    cumhi = F.when(lo_first, F.col("cum2")).otherwise(F.col("cum1"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (s2.crossJoin(F.broadcast(tot))
            .select(F.col("n").alias("n_buckets"),
                    F.col("b1").alias("split1_bucket"),
                    F.col("b2").alias("split2_bucket"),
                    fl6(F.col("g1")).alias("gain1"),
                    fl6(F.col("g2")).alias("gain2"),
                    fl6(cumlo.cast("double") / klo.cast("double"))
                    .alias("mean_seg1"),
                    fl6((cumhi - cumlo).cast("double")
                        / (khi - klo).cast("double")).alias("mean_seg2"),
                    fl6((F.col("s") - cumhi).cast("double")
                        / (F.col("n") - khi).cast("double"))
                    .alias("mean_seg3")))


def markov_entropy_rate(df: DataFrame, ts_col: str, state_col: str,
                        partition_by: Sequence[str],
                        tiebreak: str | None = None) -> DataFrame:
    """Entropy rate of the first-order Markov chain behind
    :func:`transition_matrix`: H = −Σ_ij (n_ij/N)·ln(n_ij/n_i) nats per
    step, using the empirical from-state distribution as the weighting
    (π_i = n_i/N). The one-number sequel to the transition matrix —
    how PREDICTABLE is the next event given the current one? 0 = fully
    deterministic flows (every state has one successor), ln(k) =
    uniform chaos over k states; ``normalized_entropy`` = H/ln(k)
    rescales to [0,1] for cross-corpus comparison.

    Parity/scale shape: transition counts are exact BIGINTs from one
    lag window (series-keyed shuffle) + one map-side-combined groupBy
    on the tiny state×state key space; each term folds as
    ``n_ij · round6(ln(n_ij/n_i))`` cast DECIMAL(28,12) (the q87
    integer-times-rounded-log discipline — deterministic in any
    engine), summed order-free, one double division by N at the end.
    Returns ONE row: ``(n_states, n_transitions, entropy_rate,
    normalized_entropy)`` with normalized NULL when k < 2."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*partition_by).orderBy(*order)
    pairs = (df.where(F.col(state_col).isNotNull())
             .withColumn("__prev", F.lag(F.col(state_col)).over(w))
             .where(F.col("__prev").isNotNull()))
    counts = (pairs.groupBy(F.col("__prev").alias("__f"),
                            F.col(state_col).alias("__t"))
              .agg(F.count("*").cast("bigint").alias("__n")))
    w_from = Window.partitionBy("__f")
    ni = F.sum("__n").over(w_from)
    lnp = F.round(F.log(F.col("__n").cast("double") / ni), 6)
    term = (F.col("__n").cast("double") * lnp).cast("decimal(28,12)")
    agg = (counts.withColumn("__term", term)
           .agg(F.count_distinct("__f").cast("bigint").alias("n_states"),
                F.sum("__n").cast("bigint").alias("n_transitions"),
                F.sum("__term").alias("__tsum")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    h = -F.col("__tsum").cast("double") / F.col("n_transitions").cast("double")
    return agg.select(
        "n_states", "n_transitions",
        fl6(h).alias("entropy_rate"),
        F.when(F.col("n_states") > 1,
               fl6(h / F.log(F.col("n_states").cast("double"))))
        .alias("normalized_entropy"))


def sax_words(df: DataFrame, ts_col: str, type_col: str,
              bucket_seconds: float = 3600.0, word_len: int = 3,
              top_k: int = 20) -> DataFrame:
    """SAX-style symbolic motif mining over per-type bucketed COUNT
    series (Lin et al. 2003 lineage): each series' hourly counts are
    z-normalized against ITS OWN exact moments, quantized to 4 symbols
    at the standard Gaussian quartile breakpoints (±0.6745, 0), and
    every ``word_len``-gram of consecutive symbols becomes a word —
    the top-k words across series are the corpus' recurring local
    shapes ('ddd' = sustained lull, 'aad' = spike-then-drop). The
    symbolic complement to the numeric motif tools (acf q168,
    periodogram q232, changepoints q241).

    Exactness/scale: bucket counts are exact BIGINTs on a calendar
    grid; per-series μ/σ come from decimal(38,0) count moments (one
    tiny per-type frame); z-scores and breakpoint compares are fixed
    double arithmetic identical in any engine (boundpoint TIES are
    measure-zero: counts are integers, μ/σ irrational in practice).
    Gaps in the calendar grid break words (missing buckets are not
    zero-filled — a silent zero-fill would fabricate lulls); the
    ``word_len``-gram window slides within each series only. One
    series-keyed window + one map-side-combined word count. Returns
    ``(word, n_series, n_occurrences)`` top-k by (count desc, word)."""
    if word_len < 2:
        raise ValueError(f"word_len must be >= 2, got {word_len}")
    e = F.col(ts_col).cast("double")
    b = F.floor(e / F.lit(float(bucket_seconds))).cast("bigint")
    cnt = (df.where(F.col(type_col).isNotNull() & F.col(ts_col).isNotNull())
           .groupBy(F.col(type_col).alias("g"), b.alias("b"))
           .agg(F.count("*").cast("bigint").alias("c")))
    per_g = cnt.groupBy("g").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("c").cast("decimal(19,0)")
              * F.col("c").cast("decimal(19,0)")).cast("decimal(38,0)")
        .alias("ss"))
    md = F.col("m").cast("double")
    mu = F.col("s").cast("double") / md
    var = F.greatest(F.col("ss").cast("double") / md - mu * mu,
                     F.lit(0.0))
    stats = per_g.select("g", mu.alias("__mu"),
                         F.sqrt(var).alias("__sd"))
    z = F.when(F.col("__sd") > 0,
               (F.col("c").cast("double") - F.col("__mu"))
               / F.col("__sd")).otherwise(F.lit(0.0))
    sym = (F.when(z < -0.6745, F.lit("a"))
           .when(z < 0.0, F.lit("b"))
           .when(z < 0.6745, F.lit("c"))
           .otherwise(F.lit("d")))
    w = Window.partitionBy("g").orderBy("b")
    lagged = (cnt.join(F.broadcast(stats), "g")
              .select("g", "b", sym.alias("__s")))
    for i in range(1, word_len):
        lagged = (lagged
                  .withColumn(f"__s{i}", F.lead("__s", i).over(w))
                  .withColumn(f"__b{i}", F.lead("b", i).over(w)))
    # words only over CONSECUTIVE buckets — a calendar gap ends the word
    contiguous = None
    for i in range(1, word_len):
        cond = F.col(f"__b{i}") == F.col("b") + i
        contiguous = cond if contiguous is None else (contiguous & cond)
    word = F.concat(F.col("__s"),
                    *[F.col(f"__s{i}") for i in range(1, word_len)])
    words = (lagged.where(contiguous)
             .select("g", word.alias("word")))
    return (words.groupBy("word")
            .agg(F.count_distinct("g").cast("bigint").alias("n_series"),
                 F.count("*").cast("bigint").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("word"))
            .limit(top_k))


def ramp_rates(df: DataFrame, ts_col: str, value_col: str,
               type_col: str, partition_by: Sequence[str],
               tiebreak: str | None = None) -> DataFrame:
    """Ramp-rate report per signal type — the power-domain volatility
    primitive beside the trapezoidal integral (q116) and daily peaks
    (q117): for each series, the absolute slope |Δv|/Δt (per HOUR)
    between consecutive readings, summarized per type as count, mean,
    exact nearest-rank p50/p90, and max. Grid operators size reserves
    off the ramp distribution's tail, not its mean — the p90 column is
    the number that matters.

    Scale/parity shape: one lag window per series (series-keyed
    shuffle, total-ordered by ts + tiebreak), ramps 6-rounded; the
    per-type summary reduces to the per-DISTINCT-ramp count frame
    (map-side combined), quantiles come from a cumulative window over
    THAT frame (never a corpus sort), and the mean folds the 6-rounded
    ramps as DECIMAL(18,6). Zero-Δt pairs (duplicate timestamps within
    a series) are excluded — a 0-second ramp is a data artifact, not
    infinite volatility. Returns one row per type: ``(type, n_ramps,
    mean_ramp, p50_ramp, p90_ramp, max_ramp)`` ordered by type."""
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*partition_by).orderBy(*order)
    e = F.col(ts_col).cast("double")
    v = F.col(value_col).cast("double")
    base = (df.where(F.col(type_col).isNotNull()
                     & F.col(ts_col).isNotNull()
                     & F.col(value_col).isNotNull())
            .select(F.col(type_col).alias("__g"), *partition_by,
                    e.alias("__t"), v.alias("__v"), *order[1:]))
    lagged = (base
              .withColumn("__tp", F.lag("__t").over(
                  Window.partitionBy(*partition_by).orderBy(
                      F.col("__t"),
                      *( [F.col(tiebreak)] if tiebreak else []))))
              .withColumn("__vp", F.lag("__v").over(
                  Window.partitionBy(*partition_by).orderBy(
                      F.col("__t"),
                      *( [F.col(tiebreak)] if tiebreak else [])))))
    ramp = F.round(F.abs(F.col("__v") - F.col("__vp"))
                   / ((F.col("__t") - F.col("__tp")) / F.lit(3600.0)), 6)
    ramps = (lagged.where(F.col("__tp").isNotNull()
                          & (F.col("__t") > F.col("__tp")))
             .select("__g", ramp.alias("__r")))
    per = ramps.groupBy("__g", "__r").agg(
        F.count("*").cast("bigint").alias("c"))
    w_g = Window.partitionBy("__g")
    w_cum = (Window.partitionBy("__g").orderBy("__r")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    staged = (per.withColumn("__n", F.sum("c").over(w_g))
              .withColumn("__cum", F.sum("c").over(w_cum)))

    def rank_for(q):
        # nearest-rank on the count frame: first value whose cumulative
        # count reaches floor(q·(n−1)+0.5)+1 (the repo's exact-quantile
        # convention, quantiles_from_value_counts)
        pos = F.floor(F.lit(q) * (F.col("__n") - 1).cast("double")
                      + F.lit(0.5)).cast("bigint") + 1
        return F.min(F.when(F.col("__cum") >= pos, F.col("__r"))).over(w_g)

    out = (staged
           .withColumn("__p50", rank_for(0.5))
           .withColumn("__p90", rank_for(0.9))
           .groupBy("__g")
           .agg(F.max("__n").cast("bigint").alias("n_ramps"),
                (F.sum(F.col("__r").cast("decimal(18,6)")
                       * F.col("c").cast("decimal(19,0)"))
                 .cast("double")).alias("__sum"),
                F.max("__p50").alias("p50_ramp"),
                F.max("__p90").alias("p90_ramp"),
                F.max("__r").alias("max_ramp")))
    return (out.select(
        F.col("__g").alias("type"), "n_ramps",
        fl6(F.col("__sum") / F.col("n_ramps").cast("double"))
        .alias("mean_ramp"),
        "p50_ramp", "p90_ramp", "max_ramp")
        .orderBy("type"))
