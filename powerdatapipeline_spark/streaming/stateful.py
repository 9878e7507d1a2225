"""Custom stateful streaming operator (SURVEY.md §2.10: the reference has
none; Structured Streaming's ``applyInPandasWithState`` is the sanctioned
escape hatch when built-in windowed aggs can't express the semantics).

``streaming_zscore``: per-series ONLINE z-score — each event is scored
against the running mean/variance of everything seen before it on that
series (Welford's algorithm), state carried between micro-batches by the
state store. A windowed agg cannot express this: the statistic is
cumulative and must update per-row in arrival order, and the score must be
emitted per-event, not per-window.

Scale properties: state per key is three floats (count/mean/M2) — millions
of series fit trivially; the shuffle is the normal keyed exchange. State
lifetime: by default the statistic is cumulative forever (NoTimeout); for
high-cardinality EPHEMERAL keys (per-session ids) pass
``idle_timeout_ms`` (e.g. 3_600_000 for one hour) so idle series are
evicted and state stays bounded — eviction resets that series' statistics
by design.

The batch twin (same math, one pass, for backfills and tests) is
:func:`batch_zscore_online`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ZSCORE_OUTPUT = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("zscore", T.DoubleType()),
    T.StructField("n_seen", T.LongType()),
])

_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("m2", T.DoubleType()),
])


def _make_score_group(idle_timeout_ms: int | None):
    """Factory returning the state function as a CLOSURE over the timeout —
    cloudpickle serializes closures by value, while a module-level global
    would reset to its default when workers re-import the module."""
    def _score_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # idle-series eviction (processing-time timeout): drop the
            # state, emit nothing — the next arrival starts fresh
            state.remove()
            yield pd.DataFrame([], columns=["series", "event_ts", "value",
                                            "zscore", "n_seen"])
            return
        if state.exists:
            n, mean, m2 = state.get
        else:
            n, mean, m2 = 0, 0.0, 0.0
        out_rows = []
        # concatenate ALL Arrow chunks before sorting: a group larger than
        # arrow.maxRecordsPerBatch arrives as multiple pdfs, and sorting
        # each chunk independently would update Welford state out of
        # timestamp order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = pd.concat(chunks, ignore_index=True).sort_values("ts")
            for ts, v in zip(whole["ts"], whole["value"]):
                if v is None or pd.isna(v):
                    # NULL values are EMITTED (zscore NULL, state untouched)
                    # — the batch twin keeps these rows, and dropping them
                    # would break backfill-vs-live reconciliation
                    out_rows.append((key[0], ts, None, None, n))
                    continue
                var = m2 / n if n > 1 else 0.0
                z = (v - mean) / var ** 0.5 if n > 1 and var > 0 else None
                out_rows.append((key[0], ts, float(v), z, n))
                n += 1
                delta = v - mean
                mean += delta / n
                m2 += delta * (v - mean)
        state.update((n, mean, m2))
        if idle_timeout_ms:
            # per pyspark GroupState: int milliseconds only (SPARK-40437)
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(out_rows, columns=["series", "event_ts", "value",
                                              "zscore", "n_seen"])
    return _score_group


def streaming_zscore(stream: DataFrame, series_col: str, ts_col: str = "ts",
                     value_col: str = "value",
                     idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming per-series online z-score via ``applyInPandasWithState``.

    ``idle_timeout_ms`` (e.g. 3_600_000): processing-time eviction for idle
    series — REQUIRED for bounded state with high-cardinality ephemeral
    keys; None keeps cumulative statistics forever (fine for a fixed fleet
    of meters/series)."""
    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms
                    else GroupStateTimeout.NoTimeout)
    src = stream.select(F.col(series_col).cast("string").alias("series"),
                        F.col(ts_col).alias("ts"),
                        F.col(value_col).cast("double").alias("value"))
    return (src.groupBy("series")
            .applyInPandasWithState(_make_score_group(idle_timeout_ms),
                                    ZSCORE_OUTPUT, _STATE,
                                    "append", timeout_conf))


def batch_zscore_online(df: DataFrame, series_col: str, ts_col: str = "ts",
                        value_col: str = "value") -> DataFrame:
    """Batch twin of :func:`streaming_zscore`: the same
    score-against-history semantics as pure window expressions — expanding
    frame ending one row BEFORE the current row (the event never sees
    itself), population variance of the prefix."""
    w = (Window.partitionBy(series_col).orderBy(ts_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    v = F.col(value_col).cast("double")
    n = F.count(v).over(w)
    mean = F.avg(v).over(w)
    var = F.var_pop(v).over(w)
    z = F.when((n > 1) & (var > 0), (v - mean) / F.sqrt(var))
    return df.select(
        F.col(series_col).cast("string").alias("series"),
        F.col(ts_col).alias("event_ts"),
        v.alias("value"),
        z.alias("zscore"),
        n.cast("long").alias("n_seen"))


# --------------------------------------------------------------- EWMA (IIR)

EWMA_OUTPUT = T.StructType([
    T.StructField("series", T.StringType()),
    T.StructField("event_ts", T.TimestampType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("ewma", T.DoubleType()),
])

_EWMA_STATE = T.StructType([
    T.StructField("has", T.BooleanType()),
    T.StructField("s", T.DoubleType()),
])


def _make_ewma_group(alpha: float, idle_timeout_ms: int | None):
    def _ewma_group(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["series", "event_ts", "value",
                                            "ewma"])
            return
        has, s = state.get if state.exists else (False, 0.0)
        out_rows = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            # sort by (ts, value), NOT ts alone: the IIR recursion is
            # order-sensitive (unlike the z-score statistics), an
            # unstable single-key sort permutes tied timestamps between
            # runs, and equal (ts, value) pairs are interchangeable — so
            # this makes the smoothed output fully deterministic
            whole = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "value"])
            for ts, v in zip(whole["ts"], whole["value"]):
                if v is None or pd.isna(v):
                    # NULLs are emitted unsmoothed and leave state alone —
                    # same reconciliation rule as streaming_zscore
                    out_rows.append((key[0], ts, None, None))
                    continue
                s = float(v) if not has else alpha * float(v) + (1 - alpha) * s
                has = True
                out_rows.append((key[0], ts, float(v), s))
        state.update((has, s))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(out_rows, columns=["series", "event_ts", "value",
                                              "ewma"])
    return _ewma_group


def streaming_ewma(stream: DataFrame, series_col: str, ts_col: str = "ts",
                   value_col: str = "value", alpha: float = 0.3,
                   idle_timeout_ms: int | None = None) -> DataFrame:
    """Streaming per-series EWMA via ``applyInPandasWithState`` — the
    EXACT IIR recursion ``s = αx + (1−α)s``, which is the right form
    here: a stream is inherently sequential per key, so the recursion
    batch processing must FIR-truncate for parallelism
    (timeseries.ewma_fir) costs nothing extra in a stateful operator.
    State per key is two scalars; ``idle_timeout_ms`` evicts idle series
    exactly like streaming_zscore."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    timeout_conf = (GroupStateTimeout.ProcessingTimeTimeout if idle_timeout_ms
                    else GroupStateTimeout.NoTimeout)
    src = stream.select(F.col(series_col).cast("string").alias("series"),
                        F.col(ts_col).alias("ts"),
                        F.col(value_col).cast("double").alias("value"))
    return (src.groupBy("series")
            .applyInPandasWithState(_make_ewma_group(alpha, idle_timeout_ms),
                                    EWMA_OUTPUT, _EWMA_STATE,
                                    "append", timeout_conf))


def batch_ewma_iir(df: DataFrame, series_col: str, ts_col: str = "ts",
                   value_col: str = "value",
                   alpha: float = 0.3) -> DataFrame:
    """Batch twin of :func:`streaming_ewma`: the same exact IIR recursion
    via ``groupBy().applyInPandas`` — each series runs sequentially in
    one task (the recursion does not parallelize WITHIN a series; the
    parallelism is across series, and a backfill holds one series per
    task). For scale-out smoothing of very long single series prefer the
    FIR approximation (timeseries.ewma_fir)."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        # (ts, value) sort for run-to-run determinism on tied
        # timestamps — must match the streaming twin's order exactly
        pdf = pdf.sort_values(["ts", "value"])
        out, s, has = [], 0.0, False
        for v in pdf["value"]:
            if v is None or pd.isna(v):
                out.append(None)
                continue
            s = float(v) if not has else alpha * float(v) + (1 - alpha) * s
            has = True
            out.append(s)
        pdf = pdf.assign(ewma=out)
        return pdf[["series", "ts", "value", "ewma"]].rename(
            columns={"ts": "event_ts"})

    src = df.select(F.col(series_col).cast("string").alias("series"),
                    F.col(ts_col).alias("ts"),
                    F.col(value_col).cast("double").alias("value"))
    return src.groupBy("series").applyInPandas(smooth, schema=EWMA_OUTPUT)


def _start_monitor(stream: DataFrame, partial, partials_path: str,
                   checkpoint: str):
    """Start one of the eight partials monitors below: foreachBatch
    reduces each micro-batch with ``partial`` and writes the result
    under ``partials_path``; availableNow trigger.

    foreachBatch is AT-LEAST-ONCE: a retried micro-batch re-runs this
    sink, and a blind top-level append would stack the batch's counts
    twice (silently wrong accumulated statistic after one executor
    loss). Standard exactly-once recipe: overwrite the batch's OWN
    batch=<id> subdirectory — replays reuse the SAME batch_id, so the
    retry REPLACES the first attempt. Finalizers read the parent path;
    partition discovery surfaces `batch` as a column the groupBy/agg
    finalizers never reference. (Round-12 self-review.)"""
    def _append(batch_df: DataFrame, batch_id: int) -> None:
        (partial(batch_df).write.mode("overwrite")
         .parquet(f"{partials_path}/batch={batch_id}"))

    return (stream.writeStream.foreachBatch(_append)
            .option("checkpointLocation", checkpoint)
            .outputMode("update").trigger(availableNow=True).start())


def _read_partials(spark, partials_path: str,
                   schema: "T.StructType | str | None") -> DataFrame:
    """The accumulated partials, read with the schema their ``_append``
    writes: no schema-inference job, and a directory that holds no batch
    yet reads as an empty frame instead of failing to infer. ``None``
    infers the schema from the files."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(partials_path)


#: partial schemas of the monitors whose partial columns have fixed types
KS_PARTIAL = "__v double, cb bigint"
QUANTILE_PARTIAL = "__v double, c bigint"
PSI_PARTIAL = "bin bigint, n bigint"
DID_PARTIAL = "__cell string, n bigint, s decimal(38,0), ss decimal(38,0)"


def _value_counts(value_col: str, count_name: str):
    """Per-distinct-value count partial over 6-rounded values, NULLs
    excluded (ks_test's contract): the KS and quantile monitors' batch
    reduction."""
    def partial(df: DataFrame) -> DataFrame:
        v = F.round(F.col(value_col).cast("double"), 6)
        return (df.select(v.alias("__v"))
                .where(F.col("__v").isNotNull())
                .groupBy("__v")
                .agg(F.count("*").cast("bigint").alias(count_name)))
    return partial


def heavy_hitter_partial(df: DataFrame, term_col: str) -> DataFrame:
    """Per-term count partial ``(term, c)`` of one micro-batch."""
    return (df.groupBy(F.col(term_col).alias("term"))
            .agg(F.count("*").cast("bigint").alias("c")))


def woe_partial(df: DataFrame, bucket, label) -> DataFrame:
    """Per-bucket ``(bucket, n_pos, n_neg)`` count partial of one
    micro-batch."""
    return (df.select(bucket.alias("bucket"), label.alias("__y"))
            .where(F.col("bucket").isNotNull() & F.col("__y").isNotNull())
            .groupBy("bucket")
            .agg(F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("bigint")
                 .alias("n_pos"),
                 F.sum(F.when(F.col("__y"), 0).otherwise(1)).cast("bigint")
                 .alias("n_neg")))


def krippendorff_partial(df: DataFrame, unit, label) -> DataFrame:
    """``(__u, __c, nuc)`` unit-label count partial of one micro-batch."""
    return (df.select(unit.alias("__u"), label.alias("__c"))
            .where(F.col("__u").isNotNull() & F.col("__c").isNotNull())
            .groupBy("__u", "__c")
            .agg(F.count("*").cast("bigint").alias("nuc")))


def streaming_binary_auc(stream: DataFrame, score_col: str,
                         label_col: str, partials_path: str,
                         checkpoint: str,
                         keys: tuple[str, ...] = ()):
    """Streaming ROC AUC — the round-10 streaming twin of
    :func:`~powerdatapipeline_spark.operators.stats.binary_auc` (q179),
    growing the streaming surface with the stats family per the q45/q95
    discipline: foreachBatch reduces each micro-batch to its
    MERGEABLE per-distinct-score (np, nn) partial frame (NULL rows
    already excluded by the shared ``auc_per_score_counts`` half) and
    appends it to a parquet accumulator; nothing corpus-sized ever
    accumulates in executor state. AUC itself is NOT computed per
    batch — it is not incrementally maintainable under late data, but
    its sufficient statistic (per-score counts) merges by simple
    addition, the CMS/KMV sketch discipline.

    At 100 TB: each batch's partial is |distinct scores in batch|
    rows, the append is blind (no read-modify-write races), and the
    finalizer's re-reduce collapses duplicates across appends. Compact
    the accumulator periodically on a real cluster (readers.
    compact_small_files) to bound file counts.

    Returns the started StreamingQuery (caller awaits termination,
    then calls :func:`finalize_binary_auc`)."""
    from powerdatapipeline_spark.operators.stats import \
        auc_per_score_counts

    return _start_monitor(
        stream,
        lambda df: auc_per_score_counts(df, score_col, label_col, keys),
        partials_path, checkpoint)


def finalize_binary_auc(spark, partials_path: str,
                        keys: tuple[str, ...] = (),
                        schema: "T.StructType | str | None" = None
                        ) -> DataFrame:
    """Reduce the appended per-score partials to the final AUC frame —
    bit-identical to the batch operator on the same rows because both
    halves are shared code: the partials carry exact BIGINT counts (no
    rounding happened upstream) and ``auc_from_score_counts`` re-sums
    per score before its one ordered pass. ``schema`` is the partials'
    schema (``auc_per_score_counts(stream, ...).schema``: the score
    and key types come from the stream); None infers it."""
    from powerdatapipeline_spark.operators.stats import \
        auc_from_score_counts

    return auc_from_score_counts(
        _read_partials(spark, partials_path, schema), keys)


def streaming_ks_drift(stream: DataFrame, value_col: str,
                       partials_path: str, checkpoint: str):
    """Streaming half of a KS drift monitor — the distribution-shape
    watchdog over incoming data (the q121 PSI question without bins):
    foreachBatch reduces each micro-batch to its per-distinct-value
    count partial (6-rounded values, NULLs excluded — ks_test's
    contract) and appends it to a parquet accumulator; the partials
    merge by addition like the AUC twin's. Pair with
    :func:`finalize_ks_drift` against a static REFERENCE frame to get
    the exact two-sample D between everything-seen-so-far and the
    reference — recomputable at any checkpoint without rescanning the
    stream's history.

    Returns the started StreamingQuery (availableNow trigger)."""
    return _start_monitor(stream, _value_counts(value_col, "cb"),
                          partials_path, checkpoint)


def finalize_ks_drift(spark, reference: DataFrame, ref_value_col: str,
                      partials_path: str) -> DataFrame:
    """Exact KS D between a static reference distribution (side "a")
    and the accumulated stream partials (side "b") — shared
    `ks_from_value_counts` arithmetic, so the result is bit-identical
    to running batch ks_test over (reference ∪ stream history). The
    reference collapses to ITS per-value counts here (one aggregate of
    the reference frame, not the stream); the full-outer merge of the
    two count frames is value-keyed and |distinct values|-sized."""
    from powerdatapipeline_spark.operators.stats import \
        ks_from_value_counts

    ref = (_value_counts(ref_value_col, "ca")(reference)
           .withColumn("cb", F.lit(0).cast("bigint")))
    got = (_read_partials(spark, partials_path, KS_PARTIAL)
           .withColumn("ca", F.lit(0).cast("bigint"))
           .select("__v", "ca", "cb"))
    return ks_from_value_counts(ref.select("__v", "ca", "cb").union(got))


def streaming_heavy_hitters(term_stream: DataFrame, term_col: str,
                            partials_path: str, checkpoint: str):
    """Streaming heavy hitters — the round-10b streaming twin of the
    CMS query (q113), same mergeable-sufficient-statistic discipline
    as :func:`streaming_binary_auc`: each micro-batch reduces to its
    per-term count partial (|distinct terms in batch| rows — NEVER the
    token stream) and appends it blind to a parquet accumulator. The
    sketch is NOT built per batch: both the exact top-N and the CMS
    cells merge by addition from the count partials, so the finalizer
    reconstructs the exact batch result (cms_build's ``count_col``
    contract). At 100 TB: partial size is vocabulary-per-batch
    bounded; compact the accumulator periodically
    (readers.compact_small_files) to bound file counts.

    Returns the started StreamingQuery (caller awaits, then calls
    :func:`finalize_heavy_hitters`)."""
    return _start_monitor(term_stream,
                          lambda df: heavy_hitter_partial(df, term_col),
                          partials_path, checkpoint)


def finalize_heavy_hitters(spark, partials_path: str, top_n: int = 20,
                           width: int = 1024, depth: int = 3,
                           schema: "T.StructType | str | None" = None
                           ) -> DataFrame:
    """Re-reduce the appended per-batch count partials and publish the
    q113 report: exact top-N terms, their CMS estimates from the
    merged sketch, and the one-sided no-underestimate contract column.
    Addition commutes, so this is bit-identical to the batch operator
    over the union of all batches — the batch DuckDB oracle verifies
    the streaming run. ``schema`` is the partials' schema
    (``heavy_hitter_partial(stream, term_col).schema``); None infers
    it."""
    from powerdatapipeline_spark.operators.stats import (cms_build,
                                                         cms_estimate)

    counts = (_read_partials(spark, partials_path, schema)
              .groupBy("term")
              .agg(F.sum("c").cast("bigint").alias("c")))
    top = counts.orderBy(F.desc("c"), F.asc("term")).limit(top_n)
    sketch = cms_build(counts, "term", width=width, depth=depth,
                       count_col="c")
    est = cms_estimate(sketch, top, "term")
    return (top.join(est, "term")
            .select("term", F.col("c").cast("bigint").alias("exact_count"),
                    "cms_estimate",
                    (F.col("cms_estimate") >= F.col("c"))
                    .alias("no_underestimate")))


def streaming_quantile_monitor(stream: DataFrame, value_col: str,
                               partials_path: str, checkpoint: str):
    """Streaming exact-quantile monitor — "what are p50/p90/p99 of
    everything seen so far?" without a sketch approximation: each
    micro-batch reduces to its per-distinct-value count partial
    (6-rounded values, NULLs excluded) and appends it blind — the SAME
    mergeable sufficient statistic as the KS drift twin, finalized by
    :func:`powerdatapipeline_spark.operators.stats.
    quantiles_from_value_counts` instead of the D statistic. Because
    partials merge by addition, the monitor is exact at any
    checkpoint and never rescans stream history; the state is bounded
    by |distinct 6-rounded values|, not row count.

    Returns the started StreamingQuery (availableNow trigger)."""
    return _start_monitor(stream, _value_counts(value_col, "c"),
                          partials_path, checkpoint)


def finalize_quantile_monitor(spark, partials_path: str,
                              qs=(0.5, 0.9, 0.99)) -> DataFrame:
    """Merge the accumulated per-value count partials by addition and
    return the exact nearest-rank quantile row — bit-identical to
    running the batch quantile over the stream's full history."""
    from powerdatapipeline_spark.operators.stats import \
        quantiles_from_value_counts

    return quantiles_from_value_counts(
        _read_partials(spark, partials_path, QUANTILE_PARTIAL), qs=qs)


def streaming_psi_drift(stream: DataFrame, value_col: str,
                        partials_path: str, checkpoint: str,
                        lo: float = 0.0, hi: float = 200.0,
                        nbins: int = 10):
    """Streaming PSI drift monitor — the BINNED companion to the KS
    twin (:func:`streaming_ks_drift` watches distribution SHAPE
    exactly; this watches the conventional 10-bin population-stability
    index a model-monitoring stack alerts on): each micro-batch
    reduces to its fixed-width per-bin count partial (≤ ``nbins`` rows
    per batch — the smallest sufficient statistic there is) and
    appends it blind; bin counts merge by addition, so the PSI of
    everything-seen-so-far is exact at any checkpoint. Finalize with
    :func:`finalize_psi_drift` against a static reference through the
    SAME ``stats.psi_from_bin_counts`` scorer as batch q121.

    Returns the started StreamingQuery (availableNow trigger)."""
    from powerdatapipeline_spark.operators.stats import histogram

    return _start_monitor(
        stream,
        lambda df: (histogram(df, value_col, lo, hi, nbins)
                    .select("bin", F.col("n").cast("bigint").alias("n"))),
        partials_path, checkpoint)


def finalize_psi_drift(spark, reference: DataFrame, ref_value_col: str,
                       partials_path: str, lo: float = 0.0,
                       hi: float = 200.0, nbins: int = 10,
                       eps: float = 1e-6) -> DataFrame:
    """Merge the accumulated per-bin count partials by addition and
    score PSI against the static reference — bit-identical to batch
    psi_drift over (reference, stream history) because both run
    through ``stats.psi_from_bin_counts``."""
    from powerdatapipeline_spark.operators.stats import (
        histogram, psi_from_bin_counts)

    r = (histogram(reference, ref_value_col, lo, hi, nbins)
         .select("bin", F.col("n").alias("__c_r")))
    c = (_read_partials(spark, partials_path, PSI_PARTIAL)
         .groupBy("bin").agg(F.sum("n").cast("bigint").alias("__c_c")))
    both = (r.join(c, ["bin"], "full_outer")
            .select("bin",
                    F.coalesce(F.col("__c_r"), F.lit(0)).alias("cr"),
                    F.coalesce(F.col("__c_c"), F.lit(0)).alias("cc")))
    return psi_from_bin_counts(both, (), eps=eps)


def streaming_woe_monitor(stream: DataFrame, bucket, label,
                          partials_path: str, checkpoint: str):
    """Streaming WOE/IV monitor — the round-11 streaming twin of the
    scorecard report (q250), same mergeable-sufficient-statistic
    discipline as :func:`streaming_binary_auc`: each micro-batch
    reduces to per-bucket ``(n_pos, n_neg)`` count partials (k rows per
    batch, never the event stream) appended blind to a parquet
    accumulator; counts merge by addition, so the finalizer republishes
    the EXACT batch WOE/IV at any checkpoint — the live "is this
    feature's separation drifting" gauge for an online scorecard.

    ``bucket``/``label`` are the same engine-portable Column
    expressions :func:`operators.stats.woe_iv` takes. Returns the
    started StreamingQuery (availableNow trigger; caller awaits, then
    calls :func:`finalize_woe_monitor`)."""
    return _start_monitor(stream, lambda df: woe_partial(df, bucket, label),
                          partials_path, checkpoint)


def finalize_woe_monitor(spark, partials_path: str,
                         schema: "T.StructType | str | None" = None
                         ) -> DataFrame:
    """Merge the accumulated per-bucket count partials by addition and
    publish the WOE/IV report through the SAME
    ``woe_from_bucket_counts`` finalizer the batch operator uses —
    stream ≡ batch bit-identically, so the batch DuckDB oracle
    verifies the streaming run. ``schema`` is the partials' schema
    (``woe_partial(stream, bucket, label).schema``); None infers it."""
    from powerdatapipeline_spark.operators.stats import \
        woe_from_bucket_counts

    per = (_read_partials(spark, partials_path, schema)
           .groupBy("bucket")
           .agg(F.sum("n_pos").cast("bigint").alias("n_pos"),
                F.sum("n_neg").cast("bigint").alias("n_neg")))
    return woe_from_bucket_counts(per)


def streaming_krippendorff_monitor(stream: DataFrame, unit, label,
                                   partials_path: str, checkpoint: str):
    """Streaming inter-annotator-agreement monitor — the round-12
    streaming twin of Krippendorff's alpha (q249), extending the
    stream ≡ batch story to the agreement family (VERDICT r11 #8):
    each micro-batch reduces to its (unit, label) count partial —
    the statistic's exact mergeable sufficient statistic — and appends
    it blind; counts merge by addition, so the alpha of
    everything-seen-so-far is exact at any checkpoint. The live "is
    the rater pool / teacher ensemble still measuring one construct"
    gauge for an online labeling pipeline. Finalize with
    :func:`finalize_krippendorff_monitor` through the SAME
    ``stats.krippendorff_from_unit_label_counts`` as batch.

    Unlike the k-row WOE/PSI partials, this partial is proportional to
    the units TOUCHED per batch (each unit needs its own m_u) — still
    a count frame, never the ratings stream. Returns the started
    StreamingQuery (availableNow trigger)."""
    return _start_monitor(stream,
                          lambda df: krippendorff_partial(df, unit, label),
                          partials_path, checkpoint)


def finalize_krippendorff_monitor(spark, partials_path: str,
                                  schema: "T.StructType | str | None" = None
                                  ) -> DataFrame:
    """Merge the accumulated (unit, label) count partials by addition
    and publish alpha through the SAME
    ``krippendorff_from_unit_label_counts`` finalizer the batch
    operator uses — stream ≡ batch bit-identically, so q249's DuckDB
    oracle verifies the streaming run. ``schema`` is the partials'
    schema (``krippendorff_partial(stream, unit, label).schema``); None
    infers it."""
    from powerdatapipeline_spark.operators.stats import \
        krippendorff_from_unit_label_counts

    uc = (_read_partials(spark, partials_path, schema)
          .groupBy("__u", "__c")
          .agg(F.sum("nuc").cast("bigint").alias("nuc")))
    return krippendorff_from_unit_label_counts(uc)


def streaming_did_monitor(stream: DataFrame, value_col: str, group, post,
                          partials_path: str, checkpoint: str):
    """Streaming 2×2 difference-in-differences monitor — the round-12
    streaming twin of q257 (VERDICT r11 #8), the live effect readout
    while a cutover's event stream is still arriving: each micro-batch
    reduces to its ≤ 4-row per-cell ``(n, Σμ, Σμ²)`` exact
    integer-micro moment partial (``stats.did_cell_moments``) and
    appends it blind; moments merge by addition, so DiD/SE/z of
    everything-seen-so-far are exact at any checkpoint. Finalize with
    :func:`finalize_did_monitor` through the SAME
    ``stats.did_from_cell_moments`` as batch.

    Returns the started StreamingQuery (availableNow trigger)."""
    from powerdatapipeline_spark.operators.stats import did_cell_moments

    return _start_monitor(
        stream, lambda df: did_cell_moments(df, value_col, group, post),
        partials_path, checkpoint)


def finalize_did_monitor(spark, partials_path: str) -> DataFrame:
    """Merge the accumulated per-cell moment partials by addition and
    publish the DiD report through the SAME ``did_from_cell_moments``
    finalizer the batch operator uses — stream ≡ batch bit-identically,
    so q257's DuckDB oracle verifies the streaming run."""
    from powerdatapipeline_spark.operators.stats import \
        did_from_cell_moments

    return did_from_cell_moments(
        _read_partials(spark, partials_path, DID_PARTIAL))
