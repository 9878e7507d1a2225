"""Grouped statistical model fitting (SURVEY.md §2.12 gap ledger: the
reference's downstream consumer is model training, but the reference itself
ships no in-pipeline fitting — these operators close the "fit a cheap model
per group inside the engine" gap the way a warehouse would: as aggregates).

Two implementations of per-group ordinary least squares:

* :func:`grouped_ols` — pure built-in aggregates over decimal moment sums.
  This is the scale path: one shuffle keyed by the group columns, map-side
  partial aggregation, and bit-reproducible output (decimal addition is
  associative, so task/partition order cannot change the sums — the same
  trick as fit_ivf_centroids' M-step). Engine-portable: the DuckDB oracle
  computes the identical formula from the identical exact sums.
* :func:`grouped_ols_pandas` — the same fit through
  ``groupBy().applyInPandas`` (Arrow-batched, one pandas frame per group).
  This exists to exercise the grouped-pandas escape hatch for fits that
  genuinely need numpy/scipy (robust regression, splines); for plain OLS
  the native aggregate wins — no Python in the data path, no per-group
  memory ceiling (a 100 TB group streams through partial aggs, while
  applyInPandas must hold each group in one executor's memory).

tests/test_stats.py pins both to hand-computed coefficients and to each
other (|Δ| ≤ 1e-9: float64 accumulation vs exact decimal).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: decimal wide enough for Σxy over ~1e9 rows of ~1e10-scale products while
#: keeping 10 fractional digits exact
_DEC = "decimal(38,10)"


def _moments(df: DataFrame, keys: Sequence[str], x: str, y: str) -> DataFrame:
    """Exact per-group moment sums (n, Σx, Σy, Σxy, Σx², Σy²) as decimals.

    The products are formed in double (exact IEEE for these magnitudes),
    rounded identically into decimal, then summed exactly — the parity
    pattern documented at the top of queries.py.
    """
    xd, yd = F.col(x).cast("double"), F.col(y).cast("double")
    return (df.groupBy(*keys)
            .agg(F.count("*").alias("n"),
                 F.sum(xd.cast(_DEC)).alias("sx"),
                 F.sum(yd.cast(_DEC)).alias("sy"),
                 F.sum((xd * yd).cast(_DEC)).alias("sxy"),
                 F.sum((xd * xd).cast(_DEC)).alias("sxx"),
                 F.sum((yd * yd).cast(_DEC)).alias("syy")))


def grouped_ols(df: DataFrame, keys: Sequence[str], x: str, y: str) -> DataFrame:
    """Per-group OLS fit ``y ≈ slope·x + intercept`` plus Pearson r.

    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), intercept = (Σy − slope·Σx)/n,
    r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)) — all from exact
    decimal sums, with the final arithmetic in double using the same
    expression tree any other engine would build from this formula, so the
    rounded outputs hash-match the oracle. Degenerate groups (constant x)
    yield NULL slope/intercept/r rather than ±inf.
    """
    m = _moments(df, keys, x, y)
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = F.when(var_x != 0, cov_n / var_x)
    intercept = F.when(var_x != 0, (sy - (cov_n / var_x) * sx) / n)
    r = F.when((var_x > 0) & (var_y > 0), cov_n / F.sqrt(var_x * var_y))
    return m.select(*keys,
                    F.col("n"),
                    F.round(slope, 6).alias("slope"),
                    F.round(intercept, 6).alias("intercept"),
                    F.round(r, 6).alias("r"))


def histogram(df: DataFrame, col: str, lo: float, hi: float, nbins: int,
              keys: Sequence[str] = ()) -> DataFrame:
    """Fixed-width histogram of a numeric column over ``[lo, hi]``,
    optionally per group: bin ``i`` covers ``[lo + i·w, lo + (i+1)·w)`` with
    ``w = (hi − lo)/nbins``; the top edge ``x = hi`` is clamped into the
    last bin (the standard closed-top convention); values outside the range
    are dropped.

    One shuffle keyed by (keys…, bin) with map-side partial counts — the
    profile-a-100 TB-column operator (NOT ``df.rdd.histogram``, which
    collects per-partition arrays driver-side). Bin edges are emitted as
    columns so the result is self-describing. The bin index is
    ``floor((x−lo)/w)`` with an explicit ``floor`` (engine-portable: DuckDB's
    double→int cast rounds, Spark's truncates; floor sidesteps both), and
    ``w`` is embedded as one double literal so both engines evaluate the
    identical expression tree.
    """
    if nbins < 1:
        raise ValueError(f"nbins must be >= 1, got {nbins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi}]")
    w = (hi - lo) / nbins
    x = F.col(col).cast("double")
    # bin is BIGINT: Spark's floor() already yields long, and DuckDB's
    # LEAST promotes to int64 — keeping both sides wide avoids a dtype
    # mismatch in the parity harness
    b = F.least(F.floor((x - F.lit(lo)) / F.lit(w)),
                F.lit(nbins - 1).cast("bigint"))
    return (df.where((x >= lo) & (x <= hi))
              .withColumn("bin", b)
              .groupBy(*keys, "bin")
              .agg(F.count("*").alias("n"))
              .select(*keys, "bin",
                      (F.lit(lo) + F.col("bin") * F.lit(w)).alias("bin_lo"),
                      (F.lit(lo) + (F.col("bin") + 1) * F.lit(w)).alias("bin_hi"),
                      "n"))


def robust_scale_fit(df: DataFrame, value_col: str,
                     keys: Sequence[str] = ()) -> DataFrame:
    """Per-group robust-scaler statistics: median and IQR (p75 − p25).

    The outlier-resistant sibling of the mean/std z-score fit
    (features/featurespace, reference tfdataset.py's normalize intent) —
    heavy-tailed telemetry (spikes, sensor dropouts) wrecks a mean/std
    fit, while median/IQR barely move. Exact interpolated percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the q50-verified
    bit-identical pair), so the fit frame is engine-portable with no
    rounding. One shuffle keyed by the group columns; the fit output is
    group-cardinality-sized (tiny), made to be broadcast back by
    :func:`robust_scale_apply`.
    """
    x = F.col(value_col).cast("double")
    return (df.groupBy(*keys)
            .agg(F.count(x).alias("n"),
                 F.percentile(x, 0.5).alias("med"),
                 (F.percentile(x, 0.75) - F.percentile(x, 0.25))
                 .alias("iqr")))


def robust_scale_apply(df: DataFrame, fit: DataFrame, value_col: str,
                       keys: Sequence[str] = (),
                       out_col: str = "robust_z") -> DataFrame:
    """Apply a :func:`robust_scale_fit` frame: ``(x − median) / IQR``.

    The fit side broadcasts (group-cardinality rows), so application is a
    narrow map over the fact scan — no data shuffle at any scale.
    Degenerate groups (IQR = 0: constant or near-constant slabs) yield
    NULL instead of ±inf, matching grouped_ols' degenerate-group rule.
    """
    x = F.col(value_col).cast("double")
    scaled = F.when(F.col("iqr") != 0, (x - F.col("med")) / F.col("iqr"))
    joined = (df.join(F.broadcast(fit), list(keys)) if keys
              else df.crossJoin(F.broadcast(fit)))
    return joined.withColumn(out_col, F.round(scaled, 6))


def mad_outliers(df: DataFrame, value_col: str, keys: Sequence[str] = (),
                 threshold: float = 3.5) -> DataFrame:
    """Robust outlier flags via the modified z-score (Iglewicz–Hoaglin):
    ``0.6745 · (x − median) / MAD`` with ``MAD = median(|x − median|)``
    per group, flagging ``|mz| > threshold`` (3.5 is the canonical cut).

    The mean/std z-score (q97's seasonal twin) is itself dragged by the
    outliers it hunts; the double-median version is the standard robust
    fix. Two grouped exact-percentile passes keyed by ``keys`` — the
    per-group median, then the median of absolute deviations — each
    producing a group-cardinality frame that broadcasts back to the fact
    scan, so the raw data shuffles at most once per pass and never
    collects. MAD = 0 slabs (over half the group identical) yield NULL
    scores, not ±inf.

    The deviation subtree (raw scan ⋈ broadcast medians) is DELIBERATELY
    recomputed for the scoring pass rather than persisted: at 100 TB a
    columnar re-scan plus a broadcast join is routinely cheaper than
    caching a corpus-sized frame (memory pressure/spill), and the only
    materialized state stays the two tiny percentile frames.
    """
    x = F.col(value_col).cast("double")
    med = (df.groupBy(*keys)
           .agg(F.percentile(x, 0.5).alias("med")))
    dev = (df.join(F.broadcast(med), list(keys)) if keys
           else df.crossJoin(F.broadcast(med)))
    mad = (dev.groupBy(*keys)
           .agg(F.percentile(F.abs(x - F.col("med")), 0.5).alias("mad")))
    scored = (dev.join(F.broadcast(mad), list(keys)) if keys
              else dev.crossJoin(F.broadcast(mad)))
    mz = F.when(F.col("mad") != 0,
                F.lit(0.6745) * (x - F.col("med")) / F.col("mad"))
    return (scored
            .withColumn("modified_z", F.round(mz, 6))
            .withColumn("is_outlier",
                        F.when(mz.isNotNull(),
                               F.abs(mz) > F.lit(threshold))))


def grouped_ols_pandas(df: DataFrame, keys: Sequence[str], x: str, y: str) -> DataFrame:
    """:func:`grouped_ols` via ``groupBy().applyInPandas`` — one Arrow batch
    per group into a pandas/numpy closed-form fit. Prefer the native
    aggregate for plain OLS (see module docstring); this is the template for
    per-group fits that need real numpy/scipy."""
    import numpy as np
    import pandas as pd

    key_list = list(keys)
    # key columns keep their INPUT dtypes (grouped_ols does too) — stringifying
    # a bigint key would make the two twins' outputs unjoinable on the key
    out_schema = (", ".join(f"{k} {df.schema[k].dataType.simpleString()}"
                            for k in key_list)
                  + ", n bigint, slope double, intercept double, r double")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xa = pdf[x].to_numpy(dtype=float)
        ya = pdf[y].to_numpy(dtype=float)
        n = len(xa)
        var_x = n * float((xa * xa).sum()) - float(xa.sum()) ** 2
        var_y = n * float((ya * ya).sum()) - float(ya.sum()) ** 2
        cov_n = n * float((xa * ya).sum()) - float(xa.sum()) * float(ya.sum())
        slope = cov_n / var_x if var_x != 0 else np.nan
        intercept = ((float(ya.sum()) - slope * float(xa.sum())) / n
                     if var_x != 0 else np.nan)
        r = (cov_n / np.sqrt(var_x * var_y)
             if var_x > 0 and var_y > 0 else np.nan)
        return pd.DataFrame([{**{k: pdf[k].iloc[0] for k in key_list},
                              "n": n, "slope": round(slope, 6),
                              "intercept": round(intercept, 6),
                              "r": round(r, 6)}])

    return df.groupBy(*key_list).applyInPandas(fit, schema=out_schema)


def cms_build(df: DataFrame, key_col: str, width: int = 1024,
              depth: int = 3, count_col: str | None = None) -> DataFrame:
    """Count-min sketch build over a key stream: ``depth`` independent
    md5-salted hash rows × ``width`` buckets, counts aggregated per
    cell — the mergeable frequency sketch for heavy-hitter queries at
    100 TB, where an exact per-key count is a vocabulary-sized shuffle
    but the sketch is a fixed ``depth × width`` frame (a few KB) built
    with ONE map-side-combined aggregation. Engine-portable: the bucket
    hash is the shared md5-prefix primitive, so an oracle can replay
    the exact sketch.

    The sketch's geometry travels WITH it: each row carries the build's
    ``width``/``depth`` in the Spark column metadata of ``j``, so
    :func:`cms_estimate` can verify (or derive) the geometry instead of
    trusting the caller to repeat it — probing a 1024-wide sketch with
    width=512 silently addresses the wrong buckets (ADVICE r7).
    """
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    from powerdatapipeline_spark.operators.relational import \
        _md5_prefix_bigint
    key = F.col(key_col)
    cells = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 (_md5_prefix_bigint(key, f"cms{j}:", 15) % width)
                 .alias("b"))
        for j in range(depth)])).alias("c")
    sel = [cells] + ([F.col(count_col).alias("__w")] if count_col else [])
    agg = (F.sum("__w") if count_col else F.count("*"))
    return (df.select(*sel)
            .groupBy("c.j", "c.b")
            .agg(agg.cast("bigint").alias("n"))
            .withColumn("j", F.col("j").alias(
                "j", metadata={"cms_width": width, "cms_depth": depth})))


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                 width: int | None = None, depth: int | None = None,
                 out_col: str = "cms_estimate") -> DataFrame:
    """Point-query a :func:`cms_build` sketch: estimate = min over the
    ``depth`` rows of the addressed cell counts. Never underestimates;
    overestimates by collision mass ≤ e·N/width with high probability.
    The sketch frame broadcasts (``depth × width`` rows), so estimation
    is a narrow pass over the key frame.

    Geometry is read from the sketch's own column metadata (stamped by
    :func:`cms_build`); passing ``width``/``depth`` that disagree with
    the sketch raises instead of silently probing the wrong buckets
    and returning 0 via the left-join coalesce (ADVICE r7). Explicit
    values are only REQUIRED for a sketch that lost its metadata (e.g.
    a parquet round-trip)."""
    from powerdatapipeline_spark.operators.relational import \
        _md5_prefix_bigint
    meta = next((f.metadata for f in sketch.schema.fields
                 if f.name == "j"), {}) or {}
    built_w, built_d = meta.get("cms_width"), meta.get("cms_depth")
    for name, passed, built in (("width", width, built_w),
                                ("depth", depth, built_d)):
        if passed is not None and built is not None and passed != built:
            raise ValueError(
                f"cms_estimate {name}={passed} does not match the "
                f"sketch's build {name}={int(built)}; probing with a "
                "mismatched geometry addresses the wrong buckets")
    width = width if width is not None else built_w
    depth = depth if depth is not None else built_d
    if width is None or depth is None:
        raise ValueError(
            "sketch carries no geometry metadata (built by an older "
            "cms_build or round-tripped through a metadata-stripping "
            "sink); pass width= and depth= matching the build")
    width, depth = int(width), int(depth)
    key = F.col(key_col)
    probes = (keys.select(key_col, F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"),
                 (_md5_prefix_bigint(key, f"cms{j}:", 15) % width)
                 .alias("b"))
        for j in range(depth)])).alias("p")))
    # LEFT join + coalesce-to-0: a key absent from the build stream can
    # address cells no sketch row covers — an inner join would silently
    # drop the point query (or min over surviving cells only, inflating
    # it); the CMS-correct estimate for an empty cell is 0
    return (probes.join(F.broadcast(sketch),
                        (F.col("p.j") == F.col("j"))
                        & (F.col("p.b") == F.col("b")), "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                 .cast("bigint").alias(out_col)))


def psi_drift(ref: DataFrame, cur: DataFrame, value_col: str,
              keys: Sequence[str] = (), lo: float = 0.0, hi: float = 1.0,
              nbins: int = 10, eps: float = 1e-6) -> DataFrame:
    """Population-stability index between a reference and a current
    window of the same feature — the standard training-data /
    model-input drift monitor: ``PSI = Σ (q_i − p_i)·ln(q_i/p_i)`` over
    shared fixed bins (rule of thumb: < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted). Zero-count bins floor at ``eps`` (the conventional
    guard that keeps ln finite without distorting occupied bins).

    Shape: each side is one fixed-width binned count aggregate
    (map-side combined, the histogram() discipline: explicit floor,
    shared bin-width literal); the two bins-per-key frames join
    full-outer on (key, bin) — bins-cardinality-sized, broadcastable —
    so the raw scans never join each other. Each ln is 6-rounded and
    the term sum folds in exact decimal (partition-order-free,
    oracle-reproducible).
    """
    klist = list(keys)

    # binning delegates to histogram() so the engine-portable floor /
    # closed-top-clamp discipline (and its validation) lives in ONE place
    def binned(df: DataFrame, side: str) -> DataFrame:
        return (histogram(df, value_col, lo, hi, nbins, klist)
                .select(*klist, "bin",
                        F.col("n").alias(f"__c_{side}")))

    r = binned(ref, "r")
    c = binned(cur, "c")
    on = [*klist, "bin"]
    both = (r.join(c, on, "full_outer")
            .select(*on,
                    F.coalesce(F.col("__c_r"), F.lit(0)).alias("cr"),
                    F.coalesce(F.col("__c_c"), F.lit(0)).alias("cc")))
    return psi_from_bin_counts(both, klist, eps=eps)


def psi_from_bin_counts(both: DataFrame, keys: Sequence[str] = (),
                        eps: float = 1e-6) -> DataFrame:
    """PSI from an already-joined per-bin count frame ``(keys…, bin,
    cr, cc)`` — the shared finalizer between batch :func:`psi_drift`
    and the STREAMING PSI monitor (whose micro-batches append
    mergeable per-bin count partials; counts merge by addition, so
    the index is exact at any checkpoint). Same eps floor, 6-rounded
    ln, exact-decimal term fold as the batch path — one code path, no
    drift between the twins."""
    klist = list(keys)
    wk = Window.partitionBy(*klist) if klist else \
        Window.partitionBy(F.lit(1))
    both = (both.withColumn("__nr", F.sum("cr").over(wk))
            .withColumn("__nc", F.sum("cc").over(wk)))
    # explicit zero-total guard: a side with NO in-range rows must floor
    # to eps on every engine (unguarded 0/0 is NULL on Spark but NaN on
    # IEEE-strict engines, which then errors in the decimal cast)
    p = F.greatest(F.when(F.col("__nr") > 0,
                          F.col("cr").cast("double") / F.col("__nr"))
                   .otherwise(F.lit(0.0)), F.lit(eps))
    q = F.greatest(F.when(F.col("__nc") > 0,
                          F.col("cc").cast("double") / F.col("__nc"))
                   .otherwise(F.lit(0.0)), F.lit(eps))
    term = ((q - p) * (F.round(F.log(q), 6) - F.round(F.log(p), 6)))
    scored = both.withColumn("__term",
                             F.round(term, 6).cast("decimal(28,12)"))
    return (scored.groupBy(*klist)
            .agg(F.first("__nr").cast("bigint").alias("n_ref"),
                 F.first("__nc").cast("bigint").alias("n_cur"),
                 F.round(F.sum("__term").cast("double"), 6).alias("psi")))


def weighted_percentile(df: DataFrame, value_col: str, weight_col: str,
                        keys: Sequence[str] = (),
                        p: float = 0.5,
                        out_col: str = "wpct") -> DataFrame:
    """Weighted percentile per group: the smallest value whose
    cumulative weight reaches ``p`` of the group's total — with
    time-in-force weights this is the DURATION-weighted median
    (settlement statistics weight a reading by how long it was in
    force; the row-weighted median over-counts bursts of fast
    samples).

    One window cumsum per group over the value order with the weights
    accumulated in EXACT DECIMAL (prefix sums at value boundaries are
    then independent of tie order among equal values — engine- and
    partition-order-free), then a grouped min over the crossing rows.
    Zero/negative/NULL weights are excluded. A group whose total weight
    is 0 yields no row.
    """
    if not 0 < p < 1:
        raise ValueError(f"p must be in (0, 1), got {p}")
    klist = list(keys)
    v = F.col(value_col).cast("double")
    wt = F.col(weight_col).cast("double")
    base = df.where(wt.isNotNull() & (wt > 0))
    cw = (Window.partitionBy(*klist).orderBy(v)
          .rowsBetween(Window.unboundedPreceding, 0))
    tw = Window.partitionBy(*klist)
    staged = (base
              .withColumn("__cum", F.sum(wt.cast("decimal(38,10)")).over(cw)
                          .cast("double"))
              .withColumn("__tot", F.sum(wt.cast("decimal(38,10)")).over(tw)
                          .cast("double")))
    crossed = staged.where(F.col("__cum") >= F.lit(float(p)) * F.col("__tot"))
    return (crossed.groupBy(*klist)
            .agg(F.min(v).alias(out_col)))


def k_anonymity_audit(df: DataFrame, qi_cols: Sequence[str],
                      k: int = 10) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns — the privacy QA
    gate a dataset release runs next to PII redaction: every row must
    share its quasi-identifier combination with ≥ ``k−1`` others, or it
    is re-identifiable by joining on those columns. Returns a one-row
    summary (group counts, unsafe groups, rows at risk, worst group
    size) — the release/no-release signal, not the row-level leak list
    (which itself would be sensitive).

    One map-side-combined group count keyed by the quasi-identifiers,
    reduced to a single audit row — group cardinality never collects.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    groups = df.groupBy(*qi_cols).agg(F.count("*").alias("__n"))
    unsafe = F.col("__n") < k
    return groups.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(unsafe.cast("bigint")).alias("n_unsafe_groups"),
        F.sum(F.when(unsafe, F.col("__n")).otherwise(0)).cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("__n").cast("bigint").alias("min_group_size"),
        (F.sum(unsafe.cast("bigint")) == 0).alias("k_anonymous"))


def trimmed_mean(df: DataFrame, value_col: str,
                 group_by: Sequence[str] | None = None,
                 trim_frac: float = 0.1,
                 tiebreak: str | None = None) -> DataFrame:
    """Symmetric trimmed mean — the robust location estimate between
    the median (trim 0.5) and the mean (trim 0): per group, drop the
    ``floor(n·f)`` smallest and largest values by rank and average the
    rest with a decimal-exact sum. Outlier-resistant without the full
    information loss of the median; the robust-stats sibling of
    :func:`mad_outliers`.

    Rank ties are total-ordered by ``(value, tiebreak)`` so the
    trimmed SET — not just its size — is engine-reproducible. One
    shuffle for the per-group rank window, then a map-side-combined
    reduce; output is one row per group (fixed-size)."""
    if not 0.0 <= trim_frac < 0.5:
        raise ValueError(f"trim_frac must be in [0, 0.5), got {trim_frac}")
    keys = list(group_by or [])
    order = [F.col(value_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    wn = Window.partitionBy(*keys)
    ranked = (df.where(F.col(value_col).isNotNull())
              .withColumn("__rn", F.row_number().over(w))
              .withColumn("__n", F.count("*").over(wn))
              .withColumn("__cut", F.floor(F.col("__n")
                                           * F.lit(float(trim_frac)))))
    kept = ranked.where((F.col("__rn") > F.col("__cut"))
                        & (F.col("__rn") <= F.col("__n") - F.col("__cut")))
    gb = kept.groupBy(*keys) if keys else kept.groupBy()
    return gb.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.round(F.sum(F.col(value_col).cast("decimal(28,6)"))
                .cast("double") / F.count("*"), 6).alias("trimmed_mean"))


def correlation_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over ``k`` numeric columns in
    ONE aggregation pass: every moment the matrix needs — n, Σxᵢ, Σxᵢ²,
    Σxᵢxⱼ — is a decimal-exact aggregate of the same scan, so the cost
    is one map-side-combined reduce to a SINGLE row regardless of
    corpus size, then a narrow k(k−1)/2-row explode. (The naive
    per-pair ``df.stat.corr`` loop scans the table O(k²) times.)

    Complete-case semantics: rows with a NULL in ANY of ``cols`` are
    excluded once, up front — per-pair NULL handling would make each
    coefficient see a different population and the matrix inconsistent
    (non-PSD). Coefficients are 6-rounded (sqrt is transcendental);
    degenerate (zero-variance) columns yield NULL, not a division
    error."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least 2 columns")
    from powerdatapipeline_spark.operators.relational import \
        widen_narrow_scan

    base = df
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    # widen before the O(k²)-sum partial aggregation: a narrow scan
    # otherwise computes every decimal moment on one task (no-op when
    # the input arrives as >= parallelism splits). KEYLESS on purpose:
    # the aggregation is global (one output row), and hashing by a
    # caller-chosen VALUE column would cap parallelism at that column's
    # distinct count (l_tax has 9 values — 23 of 32 partitions empty)
    base = widen_narrow_scan(base.select(*cols))
    aggs = [F.count("*").cast("bigint").alias("__n")]
    for i, ci in enumerate(cols):
        x = F.col(ci).cast("double")
        aggs.append(F.sum(x.cast("decimal(28,12)")).alias(f"__s_{i}"))
        for j in range(i, len(cols)):
            y = F.col(cols[j]).cast("double")
            aggs.append(F.sum((x * y).cast("decimal(28,12)"))
                        .alias(f"__p_{i}_{j}"))
    moments = base.agg(*aggs)
    pairs = []
    for i, ci in enumerate(cols):
        for j in range(i + 1, len(cols)):
            n = F.col("__n").cast("double")
            si = F.col(f"__s_{i}").cast("double")
            sj = F.col(f"__s_{j}").cast("double")
            sii = F.col(f"__p_{i}_{i}").cast("double")
            sjj = F.col(f"__p_{j}_{j}").cast("double")
            sij = F.col(f"__p_{i}_{j}").cast("double")
            var_i = n * sii - si * si
            var_j = n * sjj - sj * sj
            corr = F.when(
                (var_i > 0) & (var_j > 0),
                F.round((n * sij - si * sj)
                        / (F.sqrt(var_i) * F.sqrt(var_j)), 6))
            pairs.append(F.struct(F.lit(ci).alias("col_a"),
                                  F.lit(cols[j]).alias("col_b"),
                                  corr.alias("corr")))
    return (moments.select(F.col("__n").alias("n_rows"),
                           F.explode(F.array(*pairs)).alias("p"))
            .select("p.col_a", "p.col_b", "p.corr", "n_rows"))


#: Poisson(1) inverse-CDF thresholds (cumulative, 12-decimal literals so
#: both engines compare against the SAME doubles); draws cap at 6 —
#: P(X>6) ≈ 8e-5 distorts the bootstrap negligibly and bounds the blowup
_POIS1_CDF = [0.367879441171, 0.735758882343, 0.919698602929,
              0.981011843123, 0.996340153172, 0.999405815182]


def poisson_bootstrap_ci(df: DataFrame, value_col: str, key_col: str,
                         n_replicas: int = 40, salt: str = "",
                         lo_q: float = 0.025, hi_q: float = 0.975
                         ) -> DataFrame:
    """Bootstrap confidence interval for the mean in ONE pass — the
    Poisson bootstrap (Chamandy et al., Google 2012): each row joins
    replica ``b`` with weight ``w ~ Poisson(1)`` drawn DETERMINISTICALLY
    from ``md5(key ‖ b)``, so at 100 TB the B resampled means cost one
    scan with an explode factor of B and a B-row shuffle — no second
    pass, no driver-side resampling, and the whole CI replays on any
    engine (no RNG state).

    Returns one row: the point mean, the (lo_q, hi_q) percentile CI of
    the replica means (exact order statistics over the B-row frame),
    and the 6-rounded bootstrap standard error. Replica means are
    decimal-exact weighted means; the inverse-CDF thresholds are fixed
    12-decimal literals so every draw is bit-identical cross-engine."""
    if n_replicas < 4:
        raise ValueError(f"n_replicas must be >= 4, got {n_replicas}")
    if not 0.0 <= lo_q < hi_q <= 1.0:
        raise ValueError(f"need 0 <= lo_q < hi_q <= 1, got {lo_q}, {hi_q}")
    from powerdatapipeline_spark.operators.relational import \
        uniform_from_key

    from powerdatapipeline_spark.operators.relational import \
        widen_narrow_scan

    b = F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))).alias("b")
    # widen BEFORE the B-way explode: a narrow (single-row-group) scan
    # otherwise pins the whole O(n·B) md5 draw pipeline to one task
    # (measured 9s → ~1s at sf0.1 on local[32]); no-op when the input
    # already arrives as >= parallelism splits
    rows = widen_narrow_scan(
        df.where(F.col(value_col).isNotNull())
          .select(F.col(key_col).alias("__k"),
                  F.col(value_col).cast("double").alias("__v")),
        by="__k").select("__k", "__v", b)
    u = uniform_from_key(
        F.concat(F.col("__k").cast("string"), F.lit("|"),
                 F.col("b").cast("string")), salt + "|boot")
    w = F.lit(len(_POIS1_CDF))
    for i in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u <= F.lit(_POIS1_CDF[i]), F.lit(i)).otherwise(w)
    weighted = rows.withColumn("__w", w.cast("bigint"))
    reps = (weighted.groupBy("b")
            .agg((F.sum((F.col("__w") * F.col("__v"))
                        .cast("decimal(28,6)")).cast("double")
                  / F.sum("__w")).alias("__mean"))
            # an all-zero-weight replica (tiny-n corner) has no mean;
            # drop it BEFORE ranking — engines disagree on NULL sort
            # order, so a surviving NULL would break rank parity
            .where(F.col("__mean").isNotNull()))
    wo = Window.orderBy(F.col("__mean"), F.col("b"))
    ranked = reps.withColumn("__rn", F.row_number().over(wo))
    lo_i = int(lo_q * (n_replicas - 1)) + 1
    hi_i = int(hi_q * (n_replicas - 1)) + 1
    point = df.where(F.col(value_col).isNotNull()).agg(
        (F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double")
         / F.count("*")).alias("point_mean"),
        F.count("*").cast("bigint").alias("n_rows"))
    summary = ranked.agg(
        F.round(F.min(F.when(F.col("__rn") == lo_i, F.col("__mean"))), 6)
        .alias("boot_lo"),
        F.round(F.min(F.when(F.col("__rn") == hi_i, F.col("__mean"))), 6)
        .alias("boot_hi"),
        F.round(F.stddev_pop("__mean"), 6).alias("boot_se"),
        F.count("*").cast("bigint").alias("n_replicas"))
    return point.crossJoin(summary).select(
        F.round("point_mean", 6).alias("point_mean"), "n_rows",
        "boot_lo", "boot_hi", "boot_se", "n_replicas")


def kmv_sketch(df: DataFrame, group_col: str, id_col: str,
               k: int = 128, salt: str = "") -> DataFrame:
    """K-minimum-values (KMV / bottom-k) distinct-count sketch per group
    (Bar-Yossef et al. 2002; the theta-sketch family's deterministic
    core): the ``k`` SMALLEST 60-bit md5 hash values of the distinct
    ids in each group. Unlike HLL the sketch is a plain DataFrame of
    ≤ k BIGINT rows per group — mergeable by union+re-rank, persistable
    as parquet, and (because the hash is the repo's engine-portable md5
    primitive, no RNG state) byte-identical across engines, so
    estimates derived from it are exactly oracle-replayable, not just
    accuracy-contracted.

    Estimator (consumed by :func:`kmv_set_compare`): with ``v_k`` the
    k-th smallest normalized hash, distinct ≈ (k−1)/v_k; when a group
    has fewer than k distinct ids the sketch IS the exact id-hash set.
    Scale shape: one distinct pass, one rank-k window the optimizer
    rewrites to WindowGroupLimit (per-task heaps) — the sketch build
    never materializes a group. 60-bit collisions merge two ids
    (P ≈ n²/2⁶¹ — negligible below billions of distinct ids per
    group, and at that cardinality the estimator error dominates)."""
    from powerdatapipeline_spark.operators.relational import (
        _md5_prefix_bigint)

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    du = (df.select(F.col(group_col).alias("g"),
                    F.col(id_col).alias("__id")).distinct()
          .select("g", _md5_prefix_bigint(
              F.col("__id").cast("string"), salt, 15).alias("hv"))
          .distinct())
    w = Window.partitionBy("g").orderBy(F.col("hv").asc())
    return (du.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= k))


def kmv_set_compare(sketch: DataFrame, k: int) -> DataFrame:
    """Pairwise set-overlap estimates from KMV sketches — the
    distinct-INTERSECTION estimator HLL cannot provide (HLL unions
    losslessly but intersects only via inclusion-exclusion error
    blowup): for every group pair, merge the two bottom-k sets, keep
    the k smallest of the union, and read off

    * ``est_union = (k−1)·2⁶⁰ / v_k``  (exact count when the merged
      set has fewer than k values),
    * ``jaccard_est = |{merged-k present in BOTH sketches}| / |merged-k|``,
    * ``est_intersection = jaccard_est · est_union``.

    Everything is joins/windows over ≤ k-row-per-group frames —
    after the one sketch-build pass over raw data, comparing ANY
    number of set pairs costs O(#pairs · k), independent of raw
    cardinality; the deterministic hash makes every estimate
    hash-verifiable in the oracle."""
    groups = sketch.select(F.col("g")).distinct()
    pairs = (groups.alias("x").join(
                 groups.alias("y"),
                 F.col("x.g") < F.col("y.g"))
             .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb")))
    e = sketch.select("g", "hv")
    la = (pairs.join(e, pairs["ga"] == e["g"])
          .select("ga", "gb", "hv", F.lit(1).alias("in_a"),
                  F.lit(0).alias("in_b")))
    lb = (pairs.join(e, pairs["gb"] == e["g"])
          .select("ga", "gb", "hv", F.lit(0).alias("in_a"),
                  F.lit(1).alias("in_b")))
    merged = (la.unionByName(lb)
              .groupBy("ga", "gb", "hv")
              .agg(F.max("in_a").alias("in_a"),
                   F.max("in_b").alias("in_b")))
    w = Window.partitionBy("ga", "gb").orderBy(F.col("hv").asc())
    kept = (merged.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k))
    agg = (kept.groupBy("ga", "gb")
           .agg(F.count("*").cast("bigint").alias("n_merged"),
                F.max("hv").alias("__vk"),
                F.sum((F.col("in_a") * F.col("in_b")).cast("bigint"))
                .alias("__n_both")))
    est_union = F.when(
        F.col("n_merged") < k, F.col("n_merged").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(1 << 60))
        / F.col("__vk").cast("double"))
    jac = F.col("__n_both").cast("double") / F.col("n_merged")
    return (agg.select(
        F.col("ga").alias("set_a"), F.col("gb").alias("set_b"), "n_merged",
        F.round(est_union, 6).alias("est_union"),
        F.round(jac, 6).alias("jaccard_est"),
        F.round(jac * est_union, 6).alias("est_intersection")))


def cohen_kappa(df: DataFrame, rater_a, rater_b) -> DataFrame:
    """Cohen's kappa (1960) between two binary raters — the
    labeler-agreement audit of a curation stack: two heuristic quality
    labelers (or a heuristic and a model distillation) that agree 90%
    of the time sound aligned, but if both keep 90% of the corpus,
    88% agreement is expected BY CHANCE — kappa reports agreement in
    excess of chance, which is what actually justifies swapping one
    labeler for the other.

    ``rater_a``/``rater_b`` are boolean Columns (NULL ⇒ False via
    coalesce, the conservative convention). One map-side-combined
    aggregation to a single confusion row — no shuffle wider than the
    4-cell reduce at any corpus size. Returns one row:
    ``(n, n00, n01, n10, n11, po, pe, kappa)``; po/pe are 6-rounded
    count ratios (dyadic-or-off-grid quotients, the tie-safe class),
    kappa = (po−pe)/(1−pe) from the UNROUNDED ratios, NULL when the
    raters are degenerate (pe = 1)."""
    t = df.select(F.coalesce(rater_a, F.lit(False)).alias("a"),
                  F.coalesce(rater_b, F.lit(False)).alias("b"))
    c = t.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n00"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n01"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n10"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint").alias("n11"))
    nd = F.col("n").cast("double")
    po = (F.col("n00") + F.col("n11")).cast("double") / F.col("n")
    pe = ((F.col("n11") + F.col("n10")).cast("double")
          * (F.col("n11") + F.col("n01")).cast("double")
          + (F.col("n00") + F.col("n01")).cast("double")
          * (F.col("n00") + F.col("n10")).cast("double")) / (nd * nd)
    return c.select(
        "n", "n00", "n01", "n10", "n11",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(F.lit(1.0) - pe > 0,
               F.round((po - pe) / (F.lit(1.0) - pe), 6)).alias("kappa"))


def classification_report(df: DataFrame, true_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class precision/recall/F1 from one confusion aggregation —
    the eval harness for any labeler/classifier the pipeline gates on
    (centroid classifier q172/q176, kNN label transfer q145, language
    ID, a distilled quality model vs its teacher). Macro-F1 is the
    mean of the ``f1`` column; it is NOT published pre-averaged — the
    per-class rows are the diagnostic (a 0.9-accuracy classifier that
    never predicts one class hides that class in any scalar).

    Shape: ONE groupBy(true, pred) count (map-side combined,
    #classes² rows max), then class-level marginals from that tiny
    frame — the corpus is scanned once regardless of class count.
    Classes appearing in EITHER column get a row (full-outer
    marginal join); precision is NULL when a class is never
    predicted, recall NULL when it has no true members, F1 NULL when
    either is. Ratios are tie-safe count quotients; F1 is computed
    from the UNROUNDED precision/recall and rounded once."""
    conf = (df.groupBy(F.col(true_col).alias("t"),
                       F.col(pred_col).alias("p"))
            .agg(F.count("*").cast("bigint").alias("c")))
    tcnt = (conf.groupBy(F.col("t").alias("cls"))
            .agg(F.sum("c").cast("bigint").alias("n_true")))
    pcnt = (conf.groupBy(F.col("p").alias("cls"))
            .agg(F.sum("c").cast("bigint").alias("n_pred")))
    tp = (conf.where(F.col("t") == F.col("p"))
          .select(F.col("t").alias("cls"), F.col("c").alias("tp")))
    base = (tcnt.join(pcnt, "cls", "full_outer")
            .join(tp, "cls", "left")
            .select("cls",
                    F.coalesce("n_true", F.lit(0)).cast("bigint")
                    .alias("n_true"),
                    F.coalesce("n_pred", F.lit(0)).cast("bigint")
                    .alias("n_pred"),
                    F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp")))
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    f1 = F.when(prec + rec > 0,
                F.round(2 * prec * rec / (prec + rec), 6))
    return base.select(
        "cls", "n_true", "n_pred", "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        f1.alias("f1"))


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit audit — the data-forensics screen for
    fabricated or clipped numeric columns (amounts invented by humans
    or re-generated by a buggy synthesizer over-represent mid digits;
    genuine multiplicative-growth data follows P(d) = log10(1+1/d)).
    A large chi-square against Benford flags a column for provenance
    review before it trains anything.

    Digit extraction never touches log10-of-value (floor(log10(x)) at
    exact powers of ten is the classic 1-ulp cross-engine landmine):
    values are scaled to integer cents with an explicit floor(x*100 +
    0.5) — DuckDB's double→int cast ROUNDS while Spark's truncates,
    so the repo's explicit-floor rule applies — and the first digit
    is the leading character of the BIGINT's decimal string, identical
    in any engine. Expected shares are 6-rounded (log10 is
    transcendental); the chi-square terms then combine deterministic
    doubles only. One map-side digit count; the 1-row total joins by
    scalar broadcast. Returns 9 rows: ``(digit, n, total, share,
    expected_p, chi2_term)`` — the statistic is the sum of
    ``chi2_term`` (8 degrees of freedom)."""
    x = F.col(value_col).cast("double")
    cents = F.floor(x * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("bigint")
    # cents >= 1 (not just x > 0): a value in (0, 0.005) floors to 0
    # cents, whose leading character is '0' — a tenth bucket whose
    # expected_p = log10(1 + 1/0) is NULL, silently breaking the
    # 9-row/8-dof contract. Sub-cent positives carry no first digit
    # at this scale, so they are excluded from the statistic.
    counts = (df.where((x > 0) & (cents >= 1))
              .groupBy(digit.alias("digit"))
              .agg(F.count("*").cast("bigint").alias("n")))
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    p6 = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6)
    dev = F.col("n") - F.col("total") * p6
    return (counts.crossJoin(F.broadcast(total))
            .select("digit", "n", "total",
                    F.round(F.col("n") / F.col("total"), 6).alias("share"),
                    p6.alias("expected_p"),
                    F.round(dev * dev / (F.col("total") * p6), 6)
                    .alias("chi2_term"))
            .orderBy("digit"))


def l_diversity_audit(df: DataFrame, qi_cols: Sequence[str],
                      sensitive_col: str, l: int = 3) -> DataFrame:
    """Distinct l-diversity audit — the privacy gate k-anonymity
    (:func:`k_anonymity_audit`) misses: a quasi-identifier group can
    hold 50 rows (safely k-anonymous) that all share ONE sensitive
    value, so joining on the quasi-identifiers still discloses the
    attribute. Machanavajjhala et al. (2007): every group must carry
    ≥ ``l`` distinct sensitive values.

    One distinct pass over (qi..., sensitive) for the diversity
    counts plus one group count for sizes — both map-side-combined,
    reduced to a single release/no-release row: ``(n_groups,
    n_low_diversity_groups, n_rows_at_risk, min_distinct_sensitive,
    l_diverse)``. The row-level leak list is deliberately NOT
    returned (it is itself sensitive) — same contract as the
    k-anonymity audit."""
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    if not qi_cols:
        raise ValueError("l_diversity_audit requires quasi-identifiers")
    qi = [F.col(c) for c in qi_cols]
    sizes = df.groupBy(*qi).agg(F.count("*").cast("bigint").alias("n"))
    div = (df.select(*qi, F.col(sensitive_col).alias("__s")).distinct()
           .groupBy(*qi).agg(F.count("*").cast("bigint").alias("d")))
    g = sizes.join(div, qi_cols)
    low = F.col("d") < l
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint")
        .alias("n_low_diversity_groups"),
        F.sum(F.when(low, F.col("n")).otherwise(0)).cast("bigint")
        .alias("n_rows_at_risk"),
        F.min("d").cast("bigint").alias("min_distinct_sensitive"),
        (F.sum(F.when(low, 1).otherwise(0)) == 0).alias("l_diverse"))


def winsorize_report(df: DataFrame, value_col: str,
                     keys: Sequence[str] = (), lo: float = 0.05,
                     hi: float = 0.95) -> DataFrame:
    """Per-group winsorization report — the clamp-don't-drop companion
    to the trimmed mean (:func:`trimmed_mean`): trimming DELETES tail
    rows (changes n, biases any per-row downstream join), winsorizing
    CLAMPS them to the fitted percentile caps, preserving row count —
    the standard pre-step before a mean/std fit on spiky telemetry or
    a reward/score column with heavy tails.

    Fit = exact interpolated percentiles per group (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, the q50-verified
    bit-identical pair) broadcast back onto the scan; no second
    shuffle. Published sums are decimal-exact over 6-ROUNDED values
    (raw and clamped) — the publish-components discipline. Returns one
    row per group: ``(keys..., n, p_lo, p_hi, n_clipped_low,
    n_clipped_high, sum_raw, sum_winsorized)``."""
    if not 0.0 < lo < hi < 1.0:
        raise ValueError(f"need 0 < lo < hi < 1, got lo={lo} hi={hi}")
    x = F.col(value_col).cast("double")
    keys = list(keys)
    fit = (df.groupBy(*[F.col(k) for k in keys])
           .agg(F.percentile(x, lo).alias("p_lo"),
                F.percentile(x, hi).alias("p_hi")))
    # keyed join: NO forced broadcast — one row per group is unbounded
    # under a high-cardinality key set, so AQE picks the strategy (it
    # broadcasts when the fit really is small); the forced hint stays
    # only on the keyless 1-row scalar crossJoin.
    joined = (df.join(fit, keys) if keys
              else df.crossJoin(F.broadcast(fit)))
    clamped = F.least(F.greatest(x, F.col("p_lo")), F.col("p_hi"))
    return (joined.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(x).cast("bigint").alias("n"),
        F.round(F.min("p_lo"), 6).alias("p_lo"),
        F.round(F.min("p_hi"), 6).alias("p_hi"),
        F.sum(F.when(x < F.col("p_lo"), 1).otherwise(0)).cast("bigint")
        .alias("n_clipped_low"),
        F.sum(F.when(x > F.col("p_hi"), 1).otherwise(0)).cast("bigint")
        .alias("n_clipped_high"),
        F.sum(F.round(x, 6).cast("decimal(18,6)")).cast("double")
        .alias("sum_raw"),
        F.sum(F.round(clamped, 6).cast("decimal(18,6)")).cast("double")
        .alias("sum_winsorized")))


def _floor6(x) -> "F.Column":
    """Engine-stable 6-decimal rounding: ``floor(x*1e6 + 0.5)/1e6``.

    ``round(x, 6)`` is NOT cross-engine-stable on quotients: Spark
    rounds the double's SHORTEST round-trip decimal repr (it goes
    through ``BigDecimal.valueOf`` = ``Double.toString``, then
    HALF_UP — hypothesis pinned the repr-vs-exact-expansion
    distinction on 0.25·ln(4), test_dependence_properties.py) while
    DuckDB rounds the scaled double ``x*1e6`` — a
    quotient like ``0.616992/192 = 0.0032135`` (an EXACT half-tie,
    found at sf0.1 in the r9 centroid parity sweep) lands on opposite
    sides. floor/multiply/add are identical IEEE-754 ops everywhere,
    so this formula gives bit-identical results by construction; the
    SQL twin is ``floor(x * 1000000.0 + 0.5) / 1000000.0``. Half-ties
    round toward +inf (not away from zero) — acceptable because both
    engines agree, which is the only property parity needs."""
    return (F.floor(x * F.lit(1_000_000.0) + F.lit(0.5)).cast("double")
            / F.lit(1_000_000.0))


def binary_auc(df: DataFrame, score_col: str, label_col,
               keys: Sequence[str] = ()) -> DataFrame:
    """ROC AUC of a score column against a binary label — the
    threshold-free companion to the calibration audit (q172) and the
    classification report (q176): a quality/relevance scorer that
    gates a corpus is summarized by how often it ranks a random
    positive above a random negative (the Mann–Whitney U statistic),
    independent of any cut point.

    Exact, in integers: collapse the corpus to one row per DISTINCT
    score (map-side combined count of positives/negatives at each
    score), order by score, and accumulate ``Σ_s np_s·(2·cum_neg_below
    + nn_s)`` as BIGINT — ties contribute the conventional half credit
    without ever materializing per-row ranks, so the only ordered pass
    runs on the |distinct scores| frame, not the corpus (the
    load_duration_curve discipline: the corpus shuffles once into
    per-score partial counts; the window is a footnote-sized single
    task). ``AUC = num/(2·NP·NN)`` — an exact integer ratio rounded
    with the engine-stable floor formula. Returns ``(keys..., n_pos,
    n_neg, n_scores, auc, gini)`` with ``gini = 2·AUC − 1`` derived
    from the ROUNDED auc (dyadic, deterministic)."""
    return auc_from_score_counts(
        auc_per_score_counts(df, score_col, label_col, keys), keys)


def auc_per_score_counts(df: DataFrame, score_col: str, label_col,
                         keys: Sequence[str] = ()) -> DataFrame:
    """The MERGEABLE half of :func:`binary_auc`: per-distinct-score
    (np, nn) partial counts — two partial frames (micro-batches,
    shards, days) merge by summing np/nn per ``(keys..., __s)``, which
    is exactly what the streaming twin's foreachBatch accumulator
    appends and the finalizer re-reduces. NULL contract (round-9
    ADVICE): rows with a NULL score or label are excluded, mirroring
    welch_ttest/ks_test — a NULL label would otherwise silently count
    as negative, and a NULL score bucket sorts NULLS FIRST in Spark
    but NULLS LAST in DuckDB, breaking oracle parity on nullable
    inputs. Columns: ``(keys..., __s, np, nn)``."""
    klist = list(keys)
    lab = label_col if not isinstance(label_col, str) else \
        F.col(label_col).cast("boolean")
    return (df.select(*[F.col(k) for k in klist],
                      F.col(score_col).alias("__s"),
                      lab.alias("__y"))
            .where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
            .groupBy(*klist, "__s")
            .agg(F.sum(F.when(F.col("__y"), 1).otherwise(0))
                 .cast("bigint").alias("np"),
                 F.sum(F.when(F.col("__y"), 0).otherwise(1))
                 .cast("bigint").alias("nn")))


def auc_from_score_counts(per: DataFrame,
                          keys: Sequence[str] = ()) -> DataFrame:
    """Finalize ROC AUC from a per-distinct-score counts frame
    ``(keys..., __s, np, nn)`` — possibly the merged union of partial
    frames (rows for the SAME score are re-reduced here first, so
    appended micro-batch partials need no pre-compaction). The ordered
    pass runs on the |distinct scores| frame only; see
    :func:`binary_auc` for the arithmetic contract."""
    klist = list(keys)
    per = (per.groupBy(*klist, "__s")
           .agg(F.sum("np").cast("bigint").alias("np"),
                F.sum("nn").cast("bigint").alias("nn")))
    w = (Window.partitionBy(*klist) if klist
         else Window.partitionBy(F.lit(1))).orderBy("__s") \
        .rowsBetween(Window.unboundedPreceding, -1)
    per = per.withColumn("__cnb",
                         F.coalesce(F.sum("nn").over(w), F.lit(0)))
    out = (per.groupBy(*klist)
           .agg(F.sum("np").cast("bigint").alias("n_pos"),
                F.sum("nn").cast("bigint").alias("n_neg"),
                F.count("*").cast("bigint").alias("n_scores"),
                F.sum(F.col("np") * (2 * F.col("__cnb") + F.col("nn")))
                .cast("bigint").alias("__num")))
    auc = _floor6(F.col("__num").cast("double")
                  / (2.0 * F.col("n_pos") * F.col("n_neg")))
    return (out.where((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
            .select(*klist, "n_pos", "n_neg", "n_scores",
                    auc.alias("auc"),
                    (F.lit(2.0) * auc - F.lit(1.0)).alias("gini")))


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    redundancy screen for metadata features (is ``source`` just
    ``lang`` in disguise?) and the dependence audit behind stratified
    sampling plans: MI = Σ p_xy·ln(p_xy/(p_x·p_y)), with marginal
    entropies for normalization.

    One groupBy(x, y) collapses the corpus to the contingency table
    (map-side combined); marginals and totals derive from THAT frame
    by window sums, never a second scan. Every ln argument is an exact
    BIGINT ratio evaluated as one double quotient (``n_xy·N/(n_x·n_y)``
    — engine-identical), each ln is 6-rounded, each term's product
    with the exact p is 6-rounded into exact decimal, and the sums
    fold partition-order-free (the PSI/JS discipline). Returns one
    row: ``(n, x_levels, y_levels, h_x, h_y, mi, nmi)`` where ``nmi =
    MI/min(H_x, H_y)`` (floor-rounded; NULL for a degenerate
    single-level marginal)."""
    ct = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
          .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
          .agg(F.count("*").cast("bigint").alias("nxy")))
    wall = Window.partitionBy(F.lit(1))
    ct = (ct.withColumn("nx", F.sum("nxy").over(
              Window.partitionBy("__x")))
          .withColumn("ny", F.sum("nxy").over(
              Window.partitionBy("__y")))
          .withColumn("ntot", F.sum("nxy").over(wall)))
    nd = F.col("ntot").cast("double")
    p_xy = F.col("nxy").cast("double") / nd
    ratio = (F.col("nxy").cast("double") * nd
             / (F.col("nx").cast("double") * F.col("ny").cast("double")))
    # marginal-entropy terms must count each x (resp. y) level ONCE:
    # mark one representative row per level (min partner — any
    # deterministic pick works) and zero the term elsewhere
    ct = (ct.withColumn("__is_x_rep",
                        F.col("__y") == F.min("__y").over(
                            Window.partitionBy("__x")))
          .withColumn("__is_y_rep",
                      F.col("__x") == F.min("__x").over(
                          Window.partitionBy("__y"))))
    mi_term = F.round(p_xy * F.round(F.log(ratio), 6), 6) \
        .cast("decimal(28,12)")
    hx_term = F.when(
        F.col("__is_x_rep"),
        F.round((F.col("nx") / nd) * -F.round(F.log(F.col("nx") / nd), 6),
                6)).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    hy_term = F.when(
        F.col("__is_y_rep"),
        F.round((F.col("ny") / nd) * -F.round(F.log(F.col("ny") / nd), 6),
                6)).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    agg = ct.agg(
        F.first("ntot").cast("bigint").alias("n"),
        F.count_distinct("__x").cast("bigint").alias("x_levels"),
        F.count_distinct("__y").cast("bigint").alias("y_levels"),
        F.round(F.sum(mi_term).cast("double"), 6).alias("mi"),
        F.round(F.sum(hx_term).cast("double"), 6).alias("h_x"),
        F.round(F.sum(hy_term).cast("double"), 6).alias("h_y"))
    hmin = F.least(F.col("h_x"), F.col("h_y"))
    return agg.select(
        "n", "x_levels", "y_levels", "h_x", "h_y", "mi",
        F.when(hmin > 0, _floor6(F.col("mi") / hmin)).alias("nmi"))


def chisq_independence(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the significance companion to :func:`mutual_information`
    (MI measures HOW dependent; chi-square asks whether the dependence
    exceeds sampling noise) and the frequentist sibling of the PSI
    drift score (q121): χ² = Σ_cells (n_xy − e_xy)²/e_xy with
    e_xy = n_x·n_y/N, plus Cramér's V = sqrt(χ²/(N·min(r−1, c−1)))
    for an effect size comparable across table shapes.

    One groupBy(x, y) collapses the corpus to the NONZERO contingency
    cells (map-side combined); marginals/totals are window sums over
    that frame — and the EMPTY cells, which a join-based expected
    table would need an r×c level cross-join to materialize, are
    folded in analytically instead: a zero cell contributes exactly
    e_xy, and Σ_zero e_xy = (N² − Σ_nonzero n_x·n_y)/N, computable
    from the nonzero frame alone (no cross join reaches the plan at
    any cardinality). Arithmetic: the per-cell deviation
    d = n_xy·N − n_x·n_y accumulates exact in DECIMAL; each cell term
    is the fixed double expression (d/N)·(d/(n_x·n_y)), 6-rounded into
    exact decimal (partition-order-free, the MI/PSI discipline); the
    zero-cell term is one exact decimal ratio. NULL x or y rows are
    excluded (the round-9 contract). Returns one row:
    ``(n, x_levels, y_levels, dof, chi2, cramers_v)`` with
    ``cramers_v`` NULL for a degenerate single-level margin."""
    ct = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
          .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
          .agg(F.count("*").cast("bigint").alias("nxy")))
    wall = Window.partitionBy(F.lit(1))
    ct = (ct.withColumn("nx", F.sum("nxy").over(
              Window.partitionBy("__x")))
          .withColumn("ny", F.sum("nxy").over(
              Window.partitionBy("__y")))
          .withColumn("ntot", F.sum("nxy").over(wall)))
    dec = lambda c: F.col(c).cast("decimal(19,0)")
    d = (dec("nxy") * dec("ntot") - dec("nx") * dec("ny")) \
        .cast("decimal(38,0)")
    term = F.round(
        (d.cast("double") / F.col("ntot"))
        * (d.cast("double") / (F.col("nx").cast("double") * F.col("ny"))),
        6).cast("decimal(28,12)")
    exy_sum = (dec("nx") * dec("ny")).cast("decimal(38,0)")
    agg = ct.agg(
        F.first("ntot").cast("bigint").alias("n"),
        F.count_distinct("__x").cast("bigint").alias("x_levels"),
        F.count_distinct("__y").cast("bigint").alias("y_levels"),
        F.sum(term).alias("__tsum"),
        F.sum(exy_sum).cast("decimal(38,0)").alias("__esum"))
    nd = F.col("n").cast("double")
    zero_term = F.round(
        (F.col("n").cast("decimal(19,0)") * F.col("n").cast("decimal(19,0)")
         - F.col("__esum")).cast("double") / nd, 6)
    chi2 = F.round(F.col("__tsum").cast("double") + zero_term, 6)
    dof = ((F.col("x_levels") - 1) * (F.col("y_levels") - 1)) \
        .cast("bigint")
    mindim = F.least(F.col("x_levels"), F.col("y_levels")) - 1
    return agg.select(
        "n", "x_levels", "y_levels", dof.alias("dof"),
        chi2.alias("chi2"),
        F.when(mindim > 0,
               _floor6(F.sqrt(chi2 / (nd * mindim)))).alias("cramers_v"))


def gini_concentration(df: DataFrame, value_col: str,
                       keys: Sequence[str] = ()) -> DataFrame:
    """Gini coefficient of a non-negative size column per group — the
    corpus-concentration audit behind mixture design (q141) and token
    quotas (q104): is a source's character mass spread across its
    documents or locked up in a few giants? G = 0 is perfect equality,
    G → 1 is total concentration; it is the summary statistic of the
    Lorenz curve and the inequality twin of the load-duration curve
    (q118). Distinct from the skew_report's key-frequency Gini (q154,
    relational.py): that ranks JOIN-KEY row counts to predict shuffle
    skew; this ranks an arbitrary non-negative VALUE mass per group —
    with ties handled exactly via run arithmetic rather than a
    per-key rank.

    Exact, in integers, without a per-row sort: values collapse to the
    per-DISTINCT-value count frame (map-side combined); on the
    ascending cumulative over THAT frame, a run of ``c`` copies of
    value ``v`` occupying sorted positions ``p+1..p+c`` contributes
    ``v·(c·p + c(c+1)/2)`` to Σ i·x_(i) — BIGINT×DECIMAL exact — and
    ``G = (2·Σ i·x_(i))/(n·Σx) − (n+1)/n`` evaluates as a fixed
    double expression, floor-rounded. NULL and negative values are
    excluded (negatives make G ill-defined). Returns one row per
    group: ``(keys..., n, total, gini)``; gini is NULL when the group
    total is zero (all-zero values carry no mass to concentrate)."""
    klist = list(keys)
    per = (df.select(*[F.col(k) for k in klist],
                     F.col(value_col).cast("decimal(19,0)").alias("__v"))
           .where(F.col("__v").isNotNull() & (F.col("__v") >= 0))
           .groupBy(*klist, "__v")
           .agg(F.count("*").cast("bigint").alias("c")))
    w = (Window.partitionBy(*klist) if klist
         else Window.partitionBy(F.lit(1))).orderBy("__v") \
        .rowsBetween(Window.unboundedPreceding, -1)
    per = per.withColumn("p", F.coalesce(F.sum("c").over(w), F.lit(0)))
    contrib = (F.col("__v")
               * (F.col("c").cast("decimal(19,0)") * F.col("p")
                  + (F.col("c").cast("decimal(19,0)")
                     * (F.col("c") + 1)) / 2)).cast("decimal(38,0)")
    agg = (per.groupBy(*klist)
           .agg(F.sum(F.col("c")).cast("bigint").alias("n"),
                F.sum(F.col("__v") * F.col("c").cast("decimal(19,0)"))
                .cast("decimal(38,0)").alias("total"),
                F.sum(contrib).cast("decimal(38,0)").alias("__ix")))
    nd = F.col("n").cast("double")
    g = (F.lit(2.0) * F.col("__ix").cast("double")
         / (nd * F.col("total").cast("double"))
         - (nd + 1.0) / nd)
    return agg.select(*klist, "n",
                      F.col("total").cast("bigint").alias("total"),
                      F.when(F.col("total") > 0, _floor6(g)).alias("gini"))


def spearman_corr(df: DataFrame, x_col, y_col) -> DataFrame:
    """Spearman rank correlation between two numeric columns — the
    monotone-association screen that completes the correlation family
    (q152's Pearson matrix is linear-only; Spearman is Pearson on
    RANKS, robust to any monotone transform and to heavy tails): does
    event magnitude drift with time, does quality rise with length,
    without assuming linearity.

    Exact ranks without a corpus-wide sort: each column collapses to
    its per-DISTINCT-value count frame (map-side combined), the
    tie-averaged rank derives from a cumulative sum over THAT frame —
    DOUBLED to stay integer (2·rank = 2·cum_below + ties + 1, the
    weighted-median half-tie trick), so rank arithmetic is exact
    BIGINT — and ranks join back to the corpus by value equi-join
    (distinct-value-sized build side, AQE broadcasts when small; no
    forced hint, the winsorize lesson). One aggregation accumulates
    the five moment sums in exact decimal; the final Pearson-on-ranks
    ratio is a FIXED double expression (engine-identical), floor-
    rounded. Doubling cancels: corr(2R_x, 2R_y) = corr(R_x, R_y).
    NULL x or y rows are excluded (the round-9 contract). Returns one
    row: ``(n, x_distinct, y_distinct, rho)`` with rho NULL when
    either column is constant (zero rank variance)."""
    xc = F.col(x_col) if isinstance(x_col, str) else x_col
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    base = (df.select(xc.alias("__x"), yc.alias("__y"))
            .where(F.col("__x").isNotNull() & F.col("__y").isNotNull()))

    def ranks(col):
        d = base.groupBy(col).agg(F.count("*").cast("bigint").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return d.select(
            col,
            (2 * F.coalesce(F.sum("c").over(w), F.lit(0))
             + F.col("c") + 1).cast("bigint").alias(f"r2{col}"))

    j = (base.join(ranks("__x"), "__x").join(ranks("__y"), "__y"))
    dec = lambda c: c.cast("decimal(19,0)")
    rx, ry = F.col("r2__x"), F.col("r2__y")
    agg = j.agg(
        F.count("*").cast("bigint").alias("n"),
        # rank sums ≈ N² — widen before the sum so the accumulator is
        # (38,0), not (29,0) (VERDICT r10 #4 audit); product sums
        # already widen to the 38 cap at the multiply
        F.sum(dec(rx).cast("decimal(38,0)")).alias("sx"),
        F.sum(dec(ry).cast("decimal(38,0)")).alias("sy"),
        F.sum((dec(rx) * dec(ry)).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sxy"),
        F.sum((dec(rx) * dec(rx)).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("sxx"),
        F.sum((dec(ry) * dec(ry)).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("syy"),
        F.count_distinct("__x").cast("bigint").alias("x_distinct"),
        F.count_distinct("__y").cast("bigint").alias("y_distinct"))
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    da = nd * F.col("sxx").cast("double") - sxd * sxd
    db = nd * F.col("syy").cast("double") - syd * syd
    num = nd * F.col("sxy").cast("double") - sxd * syd
    return agg.select(
        "n", "x_distinct", "y_distinct",
        F.when((da > 0) & (db > 0),
               _floor6(num / (F.sqrt(da) * F.sqrt(db)))).alias("rho"))


def welch_ttest(df: DataFrame, value_col: str, group_col: str,
                group_a, group_b) -> DataFrame:
    """Welch's unequal-variance two-sample t-test — the A/B mean
    comparison that pairs with the Poisson-bootstrap CI (q153): did
    segment A's metric move vs segment B, without assuming equal
    variances or sizes?

    All six moments (n, Σv, Σv² per side) accumulate in ONE
    map-side-combined conditional aggregation — in EXACT INTEGER
    micro-units, not decimal casts of double products: each value is
    ``μ = floor(v·1e6 + 0.5)`` (a BIGINT, engine-stable by the explicit
    floor rule) and the square sums ``μ²`` as DECIMAL(38,0), so Σv and
    Σv² are exact rationals with NO double→decimal cast anywhere — the
    cast of a ~1e9-magnitude double product to 12 fractional digits
    asks for ~21 significant decimal digits, which Spark's BigDecimal
    conversion and DuckDB's scaled cast resolve differently (q182
    failed at exactly that seam during development; grouped_ols'
    decimal-product pattern is only safe at small magnitudes). Means,
    variances, t, and the Welch–Satterthwaite df then combine the
    exact sums in a FIXED double expression (descaled by the exact
    power-of-ten literals), floor-rounded at the end. Returns one row:
    ``(n_a, n_b, mean_a, mean_b, var_a, var_b, t, df)``; a group with
    < 2 rows raises at evaluation (variance undefined — loud, not
    NULL). Precondition: |v| < ~9e12 so μ fits a BIGINT."""
    v = F.round(F.col(value_col).cast("double"), 6)
    mu = F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))
    g = F.col(group_col)
    side = F.when(g == group_a, "a").when(g == group_b, "b")
    base = (df.select(side.alias("__g"), mu.alias("__m"))
            .where(F.col("__g").isNotNull() & F.col("__m").isNotNull())
            .withColumn("__md", F.col("__m").cast("decimal(19,0)")))

    def agg_side(s):
        c = F.col("__g") == s
        # widen BEFORE the sum: Spark accumulates sum(decimal(p,0)) at
        # decimal(p+10,0), so summing the (19,0) micro values directly
        # overflows at ~1e29 total mass — same latent class as the
        # bigint checksum folds (VERDICT r10 #4). Product sums (μ²)
        # already hit the 38 cap at the multiply and are safe.
        zero = F.lit(0).cast("decimal(38,0)")
        return [F.sum(F.when(c, 1).otherwise(0)).cast("bigint")
                .alias(f"n_{s}"),
                F.sum(F.when(c, F.col("__md").cast("decimal(38,0)"))
                      .otherwise(zero))
                .cast("decimal(38,0)").alias(f"s_{s}"),
                F.sum(F.when(c, F.col("__md") * F.col("__md"))
                      .otherwise(zero * zero)).cast("decimal(38,0)")
                .alias(f"ss_{s}")]

    out = base.agg(*agg_side("a"), *agg_side("b"))
    guard = F.when(
        (F.col("n_a") < 2) | (F.col("n_b") < 2),
        F.raise_error(F.lit(
            "welch_ttest: a group has < 2 non-null rows — variance "
            "undefined")))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    # descale exact micro sums: Σv = S/1e6, Σv² = SS/1e12 — each a
    # SINGLE double division of an exactly-converted decimal
    sa = F.col("s_a").cast("double") / F.lit(1.0e6)
    sb = F.col("s_b").cast("double") / F.lit(1.0e6)
    ssa = F.col("ss_a").cast("double") / F.lit(1.0e12)
    ssb = F.col("ss_b").cast("double") / F.lit(1.0e12)
    va = (ssa - sa * sa / na) / (na - 1)
    vb = (ssb - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    dfree = (se2 * se2) / ((va / na) * (va / na) / (na - 1)
                           + (vb / nb) * (vb / nb) / (nb - 1))
    # the guard threads through EVERY output column (round-9 ADVICE): a
    # consumer projecting any subset still trips the loud error —
    # attached only to n_a, column pruning would optimize it away and
    # t/var would degrade to NULL/Inf silently
    def g(expr, typ="double"):
        return F.coalesce(guard.cast(typ), expr)

    return out.select(
        g(F.col("n_a"), "bigint").alias("n_a"),
        g(F.col("n_b"), "bigint").alias("n_b"),
        g(_floor6(sa / na)).alias("mean_a"),
        g(_floor6(sb / nb)).alias("mean_b"),
        g(_floor6(va)).alias("var_a"), g(_floor6(vb)).alias("var_b"),
        g(_floor6(t)).alias("t"), g(_floor6(dfree)).alias("df"))


def ks_test(df: DataFrame, value_col: str, group_col: str,
            group_a, group_b) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D statistic — the distribution-
    SHAPE companion to Welch's t (mean shift) and PSI (fixed-bin
    drift): D = max |F_a(v) − F_b(v)| over the pooled sample, sensitive
    to any difference — location, spread, or shape — without choosing
    bins.

    Exact, in integers: collapse both groups to per-DISTINCT-value
    counts (one map-side-combined aggregate), one ordered cumulative
    pass over that |distinct values| frame, and maximize
    ``|cum_a·n_b − cum_b·n_a|`` as BIGINT — no doubles until the final
    ratio (floor-rounded). The argmax value is published (smallest
    value attaining D, a deterministic tie-break). Returns one row:
    ``(n_a, n_b, n_values, d, d_at)``."""
    v = F.round(F.col(value_col).cast("double"), 6)
    g = F.col(group_col)
    side = F.when(g == group_a, "a").when(g == group_b, "b")
    per = (df.select(side.alias("__g"), v.alias("__v"))
           .where(F.col("__g").isNotNull() & F.col("__v").isNotNull())
           .groupBy("__v")
           .agg(F.sum(F.when(F.col("__g") == "a", 1).otherwise(0))
                .cast("bigint").alias("ca"),
                F.sum(F.when(F.col("__g") == "b", 1).otherwise(0))
                .cast("bigint").alias("cb")))
    return ks_from_value_counts(per)


def ks_from_value_counts(per: DataFrame) -> DataFrame:
    """Finalize the two-sample KS statistic from a per-distinct-value
    counts frame ``(__v, ca, cb)`` — possibly the merged union of
    partial frames (rows for the same value are re-reduced first, so
    appended micro-batch partials need no pre-compaction; the
    auc_from_score_counts discipline). See :func:`ks_test` for the
    arithmetic contract."""
    per = (per.groupBy("__v")
           .agg(F.sum("ca").cast("bigint").alias("ca"),
                F.sum("cb").cast("bigint").alias("cb")))
    w = Window.partitionBy(F.lit(1)).orderBy("__v") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy(F.lit(1))
    per = (per.withColumn("cuma", F.sum("ca").over(w))
           .withColumn("cumb", F.sum("cb").over(w))
           .withColumn("na", F.sum("ca").over(wall))
           .withColumn("nb", F.sum("cb").over(wall)))
    per = per.withColumn(
        "dnum", F.abs(F.col("cuma") * F.col("nb")
                      - F.col("cumb") * F.col("na")))
    top = per.agg(F.max("dnum").alias("__dmax"))
    out = (per.join(F.broadcast(top),
                    per["dnum"] == top["__dmax"])
           .agg(F.first("na").cast("bigint").alias("n_a"),
                F.first("nb").cast("bigint").alias("n_b"),
                F.min("__v").alias("d_at"),
                F.first("__dmax").cast("bigint").alias("__dn")))
    nvals = per.agg(F.count("*").cast("bigint").alias("n_values"))
    d = _floor6(F.col("__dn").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")))
    return (out.crossJoin(F.broadcast(nvals))
            .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
            .select("n_a", "n_b", "n_values", d.alias("d"), "d_at"))


def km_survival(df: DataFrame, duration_col: str, event_col,
                keys: Sequence[str] = ()) -> DataFrame:
    """Kaplan–Meier survival estimate — retention/churn over lifetimes
    with right-censoring, the time-to-event summary the retention
    cohort grid (q110) approximates with fixed buckets: subjects still
    active at observation end are CENSORED (they leave the risk set
    without counting as churn), which a naive per-bucket churn rate
    silently gets wrong.

    One groupBy(duration) collapses subjects to per-distinct-time
    (events, censored) counts; the at-risk set is a DESCENDING
    cumulative sum over that tiny frame (n_risk(t) = Σ_{u≥t} counts —
    no per-subject window); survival is the running product
    Π(1 − d/n_risk), accumulated in LOG space: each ln factor is
    6-rounded, the cumulative sum folds in exact decimal
    (partition-order-free), and ``survival = exp(log_survival)``
    floor-rounded (exp of an identical double — both engines' libm
    agree to the ulp at the magnitudes here; log_survival is the
    deterministic contract column). Returns one row per EVENT time
    (censoring-only times fold into the risk set but emit no row):
    ``(keys..., t, n_risk, n_events, n_censored, log_survival,
    survival)``."""
    klist = list(keys)
    ev = event_col if not isinstance(event_col, str) else \
        F.col(event_col).cast("boolean")
    per = (df.select(*[F.col(k) for k in klist],
                     F.col(duration_col).cast("bigint").alias("t"),
                     ev.alias("__e"))
           # NULL contract (round-9 ADVICE): a NULL duration would emit
           # a t=NULL curve row and a NULL event flag would silently
           # count as censored — exclude both, mirroring welch_ttest
           .where(F.col("t").isNotNull() & F.col("__e").isNotNull())
           .groupBy(*klist, "t")
           .agg(F.sum(F.when(F.col("__e"), 1).otherwise(0))
                .cast("bigint").alias("n_events"),
                F.sum(F.when(F.col("__e"), 0).otherwise(1))
                .cast("bigint").alias("n_censored")))
    wdesc = (Window.partitionBy(*klist) if klist
             else Window.partitionBy(F.lit(1))).orderBy(F.col("t").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    per = per.withColumn(
        "n_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(wdesc))
    # a time where EVERY remaining at-risk subject has the event is the
    # terminal point: its factor is 0 (ln undefined), survival hits
    # exactly 0 there. It can only be the LAST time (n_risk counts all
    # subjects with duration >= t). Publish it with survival = 0.0 and
    # log_survival NULL instead of dropping it (a silently missing
    # curve end) or feeding -inf into the cumsum.
    lnf = F.round(F.log(F.lit(1.0) - F.col("n_events").cast("double")
                        / F.col("n_risk")), 6)
    per = per.withColumn(
        "__lnf",
        F.when((F.col("n_events") > 0)
               & (F.col("n_events") < F.col("n_risk")), lnf)
        .otherwise(F.lit(0.0)).cast("decimal(28,12)"))
    wasc = (Window.partitionBy(*klist) if klist
            else Window.partitionBy(F.lit(1))).orderBy("t") \
        .rowsBetween(Window.unboundedPreceding, 0)
    per = (per.withColumn("__ls", F.sum("__lnf").over(wasc).cast("double"))
           .withColumn("__dead",
                       F.max(F.when(F.col("n_events") == F.col("n_risk"),
                                    1).otherwise(0)).over(wasc)))
    return (per.where(F.col("n_events") > 0)
            .select(*klist, "t", "n_risk", "n_events", "n_censored",
                    F.when(F.col("__dead") == 0, F.round(F.col("__ls"), 6))
                    .alias("log_survival"),
                    F.when(F.col("__dead") == 1, F.lit(0.0))
                    .otherwise(_floor6(F.exp(F.col("__ls"))))
                    .alias("survival")))


def anova_f(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One-way ANOVA F-test across k groups — the k-sample extension of
    Welch's t (q182): does the metric's MEAN differ across sources /
    segments / shards at all, before any pairwise drill-down? The
    omnibus screen a mixture design (q141) or quality-bucket split
    (q87) runs first.

    Scale shape: ONE map-side-combined groupBy accumulates per-group
    (n, Σμ, Σμ²) in exact integer micro-units (the welch_ttest
    contract: μ = floor(v·1e6 + 0.5) as BIGINT, squares as
    DECIMAL(38,0) — no double→decimal casts anywhere); the k-row group
    frame then folds the within/between sum-of-squares terms as
    6-rounded decimals (partition-order-free, the km_survival log-fold
    discipline) and the final F ratio is a fixed double expression.
    NULL values and NULL group labels are excluded (round-9 contract).
    Raises at evaluation when k < 2 or every group is a singleton
    (within-group variance undefined); the guard threads through EVERY
    output column (welch round-9 ADVICE lesson — column pruning must
    not optimize it away). Returns one row:
    ``(k, n, ssb, ssw, df_between, df_within, f_stat, eta_sq)``."""
    v = F.round(F.col(value_col).cast("double"), 6)
    mu = F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))
    base = (df.select(F.col(group_col).alias("__g"), mu.alias("__m"))
            .where(F.col("__g").isNotNull() & F.col("__m").isNotNull())
            .withColumn("__md", F.col("__m").cast("decimal(19,0)")))
    per = base.groupBy("__g").agg(
        F.count("*").cast("bigint").alias("n"),
        # widen BEFORE the sum: sum(decimal(19,0)) accumulates at
        # (29,0) and overflows at ~1e29 micro-mass; μ² already widens
        # to the 38 cap at the multiply (VERDICT r10 #4 audit)
        F.sum(F.col("__md").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("__md") * F.col("__md")).cast("decimal(38,0)")
        .alias("ss"))
    # names must differ from "n"/"s" by more than case: Spark resolves
    # column names case-insensitively, so withColumn("N", ...) would
    # silently REPLACE "n"
    wall = Window.partitionBy(F.lit(1))
    per = (per.withColumn("__tot_n", F.sum("n").over(wall))
           .withColumn("__tot_s",
                       F.sum("s").over(wall).cast("decimal(38,0)")))
    nd = F.col("n").cast("double")
    Nd = F.col("__tot_n").cast("double")
    s6 = F.col("s").cast("double") / F.lit(1.0e6)
    ss12 = F.col("ss").cast("double") / F.lit(1.0e12)
    g6 = F.col("__tot_s").cast("double") / F.lit(1.0e6)
    # per-group terms in double (fixed expression shape), floor6-rounded
    # (tie-safe on quotients, unlike round — the _floor6 contract) and
    # decimal-folded so the cross-group sum is partition-order-free
    ssw_t = _floor6(ss12 - (s6 * s6) / nd).cast("decimal(28,6)")
    mdiff = s6 / nd - g6 / Nd
    ssb_t = _floor6(nd * mdiff * mdiff).cast("decimal(28,6)")
    agg = per.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("__tot_n").cast("bigint").alias("n"),
        F.sum(ssb_t).cast("double").alias("ssb"),
        F.sum(ssw_t).cast("double").alias("ssw"))
    guard = F.when(
        (F.col("k") < 2) | (F.col("n") <= F.col("k")),
        F.raise_error(F.lit(
            "anova_f: need >= 2 groups and at least one group with "
            ">= 2 non-null rows — F undefined")))

    def g(expr, typ="double"):
        return F.coalesce(guard.cast(typ), expr)

    dfb = (F.col("k") - 1).cast("double")
    dfw = (F.col("n") - F.col("k")).cast("double")
    f_stat = (F.col("ssb") / dfb) / (F.col("ssw") / dfw)
    eta = F.col("ssb") / (F.col("ssb") + F.col("ssw"))
    return agg.select(
        g(F.col("k"), "bigint").alias("k"),
        g(F.col("n"), "bigint").alias("n"),
        g(F.col("ssb")).alias("ssb"),
        g(F.col("ssw")).alias("ssw"),
        g(dfb.cast("bigint"), "bigint").alias("df_between"),
        g(dfw.cast("bigint"), "bigint").alias("df_within"),
        g(F.when(F.col("ssw") > 0, _floor6(f_stat))).alias("f_stat"),
        g(F.when(F.col("ssb") + F.col("ssw") > 0, _floor6(eta)))
        .alias("eta_sq"))


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str
                   ) -> DataFrame:
    """Kruskal–Wallis H test — the rank-based (distribution-free)
    sibling of :func:`anova_f`: does the metric's LOCATION differ
    across k groups, robust to heavy tails and any monotone transform
    (the Spearman-vs-Pearson relationship, lifted to k samples)?

    Exact distributed rank arithmetic, no corpus-wide sort: values
    collapse to the per-DISTINCT-value count frame; the tie-averaged
    DOUBLED rank 2r(v) = 2·cum_below + t + 1 is exact BIGINT (the
    spearman_corr trick); per-(group, value) counts equi-join the rank
    frame and one groupBy accumulates Σ 2r·c per group as
    DECIMAL(38,0). H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1) folds the
    k per-group terms as 6-rounded decimals (order-free); the tie
    correction C = 1 − Σ(t³−t)/(N³−N) comes exactly from the same
    distinct-value frame. NULL values/groups excluded. Raises when
    k < 2 (guard threads through every column). Returns one row:
    ``(k, n, n_values, h, tie_correction, h_adj)`` with h_adj NULL
    when every value is identical (C = 0)."""
    v = F.round(F.col(value_col).cast("double"), 6)
    base = (df.select(F.col(group_col).alias("__g"), v.alias("__v"))
            .where(F.col("__g").isNotNull() & F.col("__v").isNotNull()))
    gv = base.groupBy("__g", "__v").agg(
        F.count("*").cast("bigint").alias("c"))
    dv = gv.groupBy("__v").agg(F.sum("c").cast("bigint").alias("t"))
    wcum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranks = dv.select(
        "__v",
        (2 * F.coalesce(F.sum("t").over(wcum), F.lit(0))
         + F.col("t") + 1).cast("bigint").alias("r2"),
        "t")
    per_g = (gv.join(ranks.select("__v", "r2"), "__v")
             .groupBy("__g")
             .agg(F.sum("c").cast("bigint").alias("n"),
                  F.sum(F.col("c").cast("decimal(19,0)")
                        * F.col("r2").cast("decimal(19,0)"))
                  .cast("decimal(38,0)").alias("r2sum")))
    wall = Window.partitionBy(F.lit(1))
    # "__tot_n", not "N": Spark's case-insensitive resolver would fold
    # "N" into the existing "n" (the anova_f lesson)
    per_g = per_g.withColumn("__tot_n", F.sum("n").over(wall))
    nd = F.col("n").cast("double")
    Nd = F.col("__tot_n").cast("double")
    rg = F.col("r2sum").cast("double") / F.lit(2.0)
    # per-group H term 12·R²/(N(N+1)n), 6-rounded + decimal-folded
    h_t = _floor6(F.lit(12.0) * rg * rg / (Nd * (Nd + 1) * nd)) \
        .cast("decimal(28,6)")
    agg = per_g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.max("__tot_n").cast("bigint").alias("n"),
        F.sum(h_t).cast("double").alias("__hsum"))
    tiedec = (F.col("t").cast("decimal(19,0)")
              * F.col("t").cast("decimal(19,0)")
              * F.col("t").cast("decimal(19,0)")
              - F.col("t").cast("decimal(19,0)"))
    ties = dv.agg(F.count("*").cast("bigint").alias("n_values"),
                  F.sum(tiedec).cast("decimal(38,0)").alias("__tt"))
    out = agg.crossJoin(F.broadcast(ties))
    guard = F.when(
        F.col("k") < 2,
        F.raise_error(F.lit("kruskal_wallis: need >= 2 groups")))

    def g(expr, typ="double"):
        return F.coalesce(guard.cast(typ), expr)

    Nd2 = F.col("n").cast("double")
    h = F.col("__hsum") - F.lit(3.0) * (Nd2 + 1)
    corr = F.lit(1.0) - F.col("__tt").cast("double") \
        / (Nd2 * Nd2 * Nd2 - Nd2)
    return out.select(
        g(F.col("k"), "bigint").alias("k"),
        g(F.col("n"), "bigint").alias("n"),
        g(F.col("n_values"), "bigint").alias("n_values"),
        g(_floor6(h)).alias("h"),
        g(F.when(Nd2 > 1, _floor6(corr))).alias("tie_correction"),
        g(F.when((Nd2 > 1) & (F.col("n_values") > 1),
                 _floor6(h / corr))).alias("h_adj"))


def levene_bf(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Brown-Forsythe test (Levene with median centers) — do the
    groups differ in SPREAD? The variance-homogeneity companion to
    :func:`anova_f` (which assumes it) and :func:`welch_ttest` (which
    dodges it pairwise): one-way ANOVA on the absolute deviations from
    each group's MEDIAN (median-centering is the robust Brown-Forsythe
    variant — mean-centering is classical Levene, fragile under
    skew).

    The group median is the exact LOWER median from the
    per-(group, distinct value) count frame (position ⌊(n+1)/2⌋ via a
    per-group cumulative sum — the weighted-median discipline, no
    per-row sort); medians join back k-row-broadcast; the deviations
    |v − med| (exact multiples of 1e-6 by the shared 6-rounding) then
    flow through the UNCHANGED :func:`anova_f` — one operator, one
    oracle seam. Returns anova_f's row:
    ``(k, n, ssb, ssw, df_between, df_within, f_stat, eta_sq)``."""
    v = F.round(F.col(value_col).cast("double"), 6)
    base = (df.select(F.col(group_col).alias("__g"), v.alias("__v"))
            .where(F.col("__g").isNotNull() & F.col("__v").isNotNull()))
    per = base.groupBy("__g", "__v").agg(
        F.count("*").cast("bigint").alias("c"))
    wcum = Window.partitionBy("__g").orderBy("__v") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("__g")
    med = (per.withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n_g", F.sum("c").over(wall))
           .where(F.col("cum") >= F.floor((F.col("n_g") + 1) / 2))
           .groupBy("__g").agg(F.min("__v").alias("__med")))
    centered = (base.join(med, "__g")
                .select(F.col("__g").alias("g"),
                        F.abs(F.col("__v") - F.col("__med")).alias("ad")))
    return anova_f(centered, "ad", "g")


def quantile_normalize(df: DataFrame, value_col: str, group_col: str,
                       id_col: str) -> DataFrame:
    """Quantile normalization across groups — map every value onto the
    GLOBAL empirical distribution at its within-group quantile, the
    batch-effect remover (Bolstad et al. 2003, microarray lineage)
    that makes per-source size/score distributions directly comparable
    before mixture planning (q141) or quality bucketing (q87): after
    it, every group has (as near as ties allow) the same marginal
    distribution.

    Exact, distributed, NO per-row global sort: within-group LOW rank
    r comes from the per-(group, distinct value) count frame's
    cumulative sum (tied rows share a rank — and therefore a target,
    the deterministic tie policy); the global inverse CDF is the
    per-distinct-value GLOBAL count frame exploded into an
    (position → value) dictionary via ``sequence(cum+1, cum+t)`` —
    corpus-row-count rows but 2 columns, equi-joined on the target
    position p = ⌊q·(N−1)+0.5⌋+1 where q = (r−1)/(n_g−1) (q = 0.5 for
    a singleton group). Both the rank and dictionary sides are
    hash-partitioned equi-joins at any scale. Values stay exact BIGINT
    end-to-end; q is the only double (fixed expression). Returns
    ``(id, group, value, quantile, norm_value)``."""
    base = (df.select(F.col(id_col).alias("id"),
                      F.col(group_col).alias("grp"),
                      F.col(value_col).cast("bigint").alias("value"))
            .where(F.col("id").isNotNull() & F.col("grp").isNotNull()
                   & F.col("value").isNotNull()))
    gv = base.groupBy("grp", "value").agg(
        F.count("*").cast("bigint").alias("c"))
    wg = Window.partitionBy("grp").orderBy("value") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy("grp")
    ranks = (gv.withColumn("cum_below",
                           F.coalesce(F.sum("c").over(wg), F.lit(0)))
             .withColumn("n_g", F.sum("c").over(wall))
             .select("grp", "value",
                     (F.col("cum_below") + 1).cast("bigint").alias("r"),
                     "n_g"))
    q = F.when(F.col("n_g") > 1,
               (F.col("r") - 1).cast("double")
               / (F.col("n_g") - 1).cast("double")).otherwise(F.lit(0.5))
    with_q = (base.join(ranks, ["grp", "value"])
              .withColumn("quantile", q))
    dv = gv.groupBy("value").agg(F.sum("c").cast("bigint").alias("t"))
    wglob = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1)
    dict_ = (dv.withColumn("cum_below",
                           F.coalesce(F.sum("t").over(wglob), F.lit(0)))
             .select(F.explode(F.sequence(
                 F.col("cum_below") + 1,
                 F.col("cum_below") + F.col("t"))).alias("pos"),
                 F.col("value").alias("norm_value")))
    n_tot = base.agg(F.count("*").cast("bigint").alias("N"))
    target = (with_q.crossJoin(F.broadcast(n_tot))
              .withColumn("pos",
                          (F.floor(F.col("quantile")
                                   * (F.col("N") - 1).cast("double")
                                   + F.lit(0.5)) + 1).cast("bigint")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (target.join(dict_, "pos")
            .select("id", "grp", "value", fl6(F.col("quantile"))
                    .alias("quantile"), "norm_value"))


def dq_expectations(df: DataFrame, spec: dict) -> DataFrame:
    """Data-quality expectation suite (Deequ-style column profiler) —
    the automated audit a 100 TB ingest gate runs before training data
    is admitted (reference intent: check_csv_file's per-column
    validation, generalized from "columns exist" to measured
    constraints). ``spec`` maps column → kind ('numeric' | 'string' |
    'timestamp'); the report emits one (col_name, metric, value) row
    per check: completeness (non-null fraction), exact distinct count,
    and per-kind min/max/mean (numeric), length stats (string), epoch
    span (timestamp).

    Scale design: ONE pass — every metric is an aggregate in a single
    ``agg()`` (Catalyst plans the distinct counts via expand; swap
    ``approx_count_distinct`` in at 100 TB where exactness isn't
    contractual — exact is kept here because the oracle compare is
    exact). The unpivot runs on the 1-row aggregate frame, not the
    corpus. Means are decimal-sum / count per the parity rules; the
    fraction metrics are floor6."""
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c, kind in spec.items():
        aggs.append(F.count(c).cast("bigint").alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("bigint")
                    .alias(f"nd_{c}"))
        if kind == "numeric":
            v = F.col(c).cast("double")
            aggs += [F.min(v).alias(f"min_{c}"), F.max(v).alias(f"max_{c}"),
                     F.sum(v.cast("decimal(38,10)")).alias(f"sum_{c}")]
        elif kind == "string":
            ln = F.length(c)
            aggs += [F.min(ln.cast("double")).alias(f"min_{c}"),
                     F.max(ln.cast("double")).alias(f"max_{c}"),
                     F.sum(ln.cast("bigint")).alias(f"sum_{c}")]
        elif kind == "timestamp":
            # parquet TIMESTAMP_NTZ cannot cast straight to double;
            # normalize through session-zoned TIMESTAMP first (callers
            # run under a UTC session zone, so this equals DuckDB's
            # naive epoch() — the load_events discipline)
            e = F.col(c).cast("timestamp").cast("double")
            aggs += [F.min(e).alias(f"min_{c}"), F.max(e).alias(f"max_{c}")]
        else:
            raise ValueError(f"dq_expectations: unknown kind {kind!r} "
                             f"for column {c!r}")
    one = df.agg(*aggs)
    nmetric = {"numeric": [("min", "min_{}"), ("max", "max_{}")],
               "string": [("min_len", "min_{}"), ("max_len", "max_{}")],
               "timestamp": [("min_epoch", "min_{}"),
                             ("max_epoch", "max_{}")]}
    parts = []
    for c, kind in spec.items():
        rows = [("completeness", fl6(F.col(f"nn_{c}").cast("double")
                                     / F.col("__n").cast("double"))),
                ("n_distinct", F.col(f"nd_{c}").cast("double"))]
        rows += [(m, F.col(t.format(c))) for m, t in nmetric[kind]]
        if kind == "numeric":
            rows.append(("mean", fl6(F.col(f"sum_{c}").cast("double")
                                     / F.col(f"nn_{c}").cast("double"))))
        elif kind == "string":
            rows.append(("avg_len", fl6(F.col(f"sum_{c}").cast("double")
                                        / F.col(f"nn_{c}").cast("double"))))
        for metric, expr in rows:
            parts.append(one.select(F.lit(c).alias("col_name"),
                                    F.lit(metric).alias("metric"),
                                    expr.cast("double").alias("value")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name", "metric")


def exceedance_report(df: DataFrame, value_col: str, group_col: str,
                      q: float = 0.99) -> DataFrame:
    """Peaks-over-threshold exceedance report per group — the extreme-
    value screen for grid telemetry (how heavy is the tail above the
    per-feeder p99?): exact nearest-rank quantile threshold, exceedance
    count, mean excess (the mean-residual-life statistic EVT fits start
    from) and the observed maximum.

    Scale/parity design: the corpus reduces to per-(group, value)
    count frames first (values 6-rounded, the q204 discipline), so the
    quantile is an exact cumsum position on the |distinct| frame and
    every downstream sum is over distinct values weighted by exact
    BIGINT counts; the excess sum is decimal-cast for partition-order
    freedom. No per-row global sort, no all-row window. Returns
    ``(group, n, threshold, n_exceed, mean_excess, max_value)``."""
    g = F.col(group_col).alias("g")
    v6 = F.round(F.col(value_col).cast("double"), 6)
    per = (df.where(F.col(group_col).isNotNull()
                    & F.col(value_col).isNotNull())
           .select(g, v6.alias("v"))
           .groupBy("g", "v")
           .agg(F.count("*").cast("bigint").alias("c")))
    wcum = (Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("g")
    staged = (per.withColumn("cum", F.sum("c").over(wcum))
              .withColumn("n", F.sum("c").over(wall)))
    pos = (F.floor(F.lit(q) * (F.col("n") - 1).cast("double")
                   + F.lit(0.5)) + 1)
    thr = (staged.where(F.col("cum") >= pos)
           .groupBy("g").agg(F.min("v").alias("thr"),
                             F.max("n").alias("n")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    joined = per.join(thr, "g")
    exceed = (joined.where(F.col("v") > F.col("thr"))
              .groupBy("g")
              .agg(F.sum("c").cast("bigint").alias("n_exceed"),
                   F.sum(((F.col("v") - F.col("thr"))
                          * F.col("c").cast("double"))
                         .cast("decimal(38,10)")).alias("sum_excess")))
    mx = per.groupBy("g").agg(F.max("v").alias("max_value"))
    return (thr.join(exceed, "g", "left").join(mx, "g")
            .select(F.col("g").alias(group_col), F.col("n"),
                    F.col("thr").alias("threshold"),
                    F.coalesce("n_exceed", F.lit(0).cast("bigint"))
                    .alias("n_exceed"),
                    F.when(F.col("n_exceed") > 0,
                           fl6(F.col("sum_excess").cast("double")
                               / F.col("n_exceed").cast("double")))
                    .alias("mean_excess"),
                    "max_value")
            .orderBy(group_col))


def ols_trend(df: DataFrame, x_col: str, y_col: str,
              group_col: str) -> DataFrame:
    """Per-group ordinary-least-squares trend line (slope / intercept /
    R²) via closed-form moments — "is this feeder's daily load
    drifting?" as a grouped aggregate, the parametric companion to
    q194's Mann-Kendall/Sen nonparametric trend.

    Parity/scale design: one grouped pass accumulating the five
    moments Σx, Σy, Σx², Σxy, Σy² — each term computed in double
    (bit-identical across engines) then cast decimal(38,10) so the
    SUM itself is partition-order-free (the one-pass correlation-
    matrix discipline, stats.correlation_matrix). Slope/intercept/R²
    are fixed double expressions over the exact moments, floor6 at the
    end; degenerate groups (n < 2 or zero x-variance) yield NULLs
    rather than Inf. Never sorts, never windows — pure map-side
    combine. Returns ``(group, n, slope, intercept, r2)``."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    dec = lambda c: c.cast("decimal(38,10)")
    m = (df.where(F.col(group_col).isNotNull()
                  & F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
         .groupBy(F.col(group_col).alias("g"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(dec(x)).alias("sx"), F.sum(dec(y)).alias("sy"),
              F.sum(dec(x * x)).alias("sxx"),
              F.sum(dec(x * y)).alias("sxy"),
              F.sum(dec(y * y)).alias("syy")))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    den_x = nd * sxx - sx * sx
    den_y = nd * syy - sy * sy
    num = nd * sxy - sx * sy
    slope = num / den_x
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    ok = (F.col("n") >= 2) & (den_x != 0)
    return (m.select(
        F.col("g").alias(group_col), "n",
        F.when(ok, fl6(slope)).alias("slope"),
        F.when(ok, fl6((sy - slope * sx) / nd)).alias("intercept"),
        F.when(ok & (den_y != 0), fl6(num * num / (den_x * den_y)))
        .alias("r2"))
        .orderBy(group_col))


def quantiles_from_value_counts(per: DataFrame,
                                qs=(0.5, 0.9, 0.99)) -> DataFrame:
    """Exact nearest-rank quantiles from a mergeable per-distinct-value
    count frame ``(__v, c)`` — the shared finalizer for the streaming
    quantile monitor (partials merge by addition, so quantiles of
    everything-seen-so-far are recomputable at any checkpoint) and any
    batch caller that already holds count partials. Same nearest-rank
    position arithmetic as seasonal_quantile_bands (floor(q·(n−1)+0.5)
    + 1 on the cumsum), computed on the |distinct values| frame — the
    single-partition window never touches the corpus. Returns ONE row
    ``(n, q_<pct>...)``."""
    merged = per.groupBy("__v").agg(F.sum("c").cast("bigint").alias("c"))
    w = (Window.orderBy("__v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    staged = (merged.withColumn("cum", F.sum("c").over(w))
              .withColumn("n", F.sum("c").over(
                  Window.rowsBetween(Window.unboundedPreceding,
                                     Window.unboundedFollowing))))
    aggs = [F.max("n").cast("bigint").alias("n")]
    for q in qs:
        pos = (F.floor(F.lit(float(q)) * (F.col("n") - 1).cast("double")
                       + F.lit(0.5)) + 1)
        name = f"q_{int(round(q * 100)):02d}"
        aggs.append(F.min(F.when(F.col("cum") >= pos, F.col("__v")))
                    .alias(name))
    return staged.agg(*aggs)


def lorenz_deciles(df: DataFrame, entity_col: str,
                   amount_col: str) -> DataFrame:
    """Lorenz-curve decile table — the concentration CURVE behind a
    Gini number (q189 reports the scalar; this reports the ten points
    an analyst actually plots): after reducing to exact per-entity
    totals, the bottom d×10 % of entities (by spend, ascending) hold
    what share of total spend?

    Parity/scale design: per-entity totals are exact decimal sums,
    6-rounded to doubles so the distinct-value count frame is engine-
    identical; cumulative counts AND cumulative spend are windows over
    the |distinct values| frame only; each decile row is a pure
    monotone aggregate (min cum ≥ position — no join-back), positions
    are exact integer arithmetic. Returns ``(decile, cum_entities,
    cum_share)`` — cum_share floor6, 10 rows."""
    per_entity = (df.where(F.col(entity_col).isNotNull()
                           & F.col(amount_col).isNotNull())
                  .groupBy(entity_col)
                  .agg(F.round(F.sum(F.col(amount_col)
                                     .cast("decimal(38,10)"))
                               .cast("double"), 6).alias("v")))
    # scale 6 (v is 6-rounded, lossless): a scale-10 cast of 1e6+
    # magnitudes reads digits past double precision, where the two
    # engines' double->decimal roundings disagree (the q227 lesson)
    per_v = (per_entity.groupBy("v")
             .agg(F.count("*").cast("bigint").alias("c"),
                  F.sum(F.col("v").cast("decimal(38,6)")).alias("s")))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = per_v.agg(F.sum("c").cast("bigint").alias("n"),
                    F.sum("s").alias("tot"))
    staged = (per_v.withColumn("cumc", F.sum("c").over(w))
              .withColumn("cums", F.sum("s").over(w))
              .crossJoin(F.broadcast(tot))
              .withColumn("d", F.explode(F.sequence(F.lit(1), F.lit(10))))
              .where(F.col("cumc") >= F.floor(
                  (F.col("d") * F.col("n") + 9).cast("double")
                  / F.lit(10.0))))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (staged.groupBy("d")
            .agg(F.min("cumc").cast("bigint").alias("cum_entities"),
                 fl6(F.min("cums").cast("double")
                     / F.max(F.col("tot").cast("double")))
                 .alias("cum_share"))
            .select(F.col("d").cast("int").alias("decile"),
                    "cum_entities", "cum_share")
            .orderBy("decile"))


def neyman_allocation(df: DataFrame, value_col: str, stratum_col: str,
                      n_total: int) -> DataFrame:
    """Neyman-optimal stratified-sample allocation: split a total sample
    budget ``n_total`` across strata proportional to ``N_h·σ_h`` (stratum
    size × population std) — the variance-minimizing design for estimating
    the population mean from a stratified sample (Neyman 1934). The
    training-data-curation use: size per-domain eval/validation samples so
    high-variance domains get proportionally more audit budget, instead of
    flat or size-proportional splits (cf. the mixture plan q86, which
    targets a TOKEN mix; this targets estimator variance).

    Exactness/parity shape: per-stratum (n, Σμ, Σμ²) in integer micro-units
    with decimal(38,0) accumulators (the welch_ttest contract), σ_h from
    the exact sums in fixed double arithmetic; weights ``w_h = N_h·σ_h``
    floor6-rounded into DECIMAL(38,6) so the grand total folds exactly
    (order-free — the abc_classification discipline). Fractional quotas
    are settled by LARGEST-REMAINDER rounding (floor every quota, then
    hand the leftover seats to the largest fractional parts, stratum name
    as total-order tiebreak), so the allocations are integers that sum to
    EXACTLY ``n_total`` — deterministically, in any engine. Zero-variance
    strata get weight 0 (already exactly measured by 1 row — Neyman's
    optimum assigns them nothing; callers wanting a floor add it after).
    All-zero total weight → every allocation 0 (degenerate budget, loud in
    the output rather than a raise: the report IS the diagnostic).

    One groupBy on the stratum key (map-side combined) + windows over the
    k-strata frame — the corpus never sorts. Returns one row per stratum:
    ``(stratum, n_rows, stddev, weight, quota, n_alloc)`` ordered by
    stratum."""
    if n_total < 0:
        raise ValueError(f"n_total must be >= 0, got {n_total}")
    v = F.round(F.col(value_col).cast("double"), 6)
    mu = F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))
    base = (df.select(F.col(stratum_col).alias("stratum"), mu.alias("__m"))
            .where(F.col("stratum").isNotNull() & F.col("__m").isNotNull())
            .withColumn("__md", F.col("__m").cast("decimal(38,0)")))
    per = base.groupBy("stratum").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("__md").alias("s"),
        F.sum(F.col("__md") * F.col("__md")).cast("decimal(38,0)")
        .alias("ss"))
    nd = F.col("n_rows").cast("double")
    var = (F.col("ss").cast("double") / nd
           - (F.col("s").cast("double") / nd)
           * (F.col("s").cast("double") / nd)) / F.lit(1e12)
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    w_all = Window.partitionBy(F.lit(1))
    staged = (per
              .withColumn("__sd", sd)
              .withColumn("__w", fl6(nd * sd).cast("decimal(38,6)"))
              .withColumn("__tot", F.sum("__w").over(w_all)))
    quota = F.when(
        F.col("__tot") > 0,
        F.lit(float(n_total)) * F.col("__w").cast("double")
        / F.col("__tot").cast("double")).otherwise(F.lit(0.0))
    staged = (staged.withColumn("__q", quota)
              .withColumn("__base",
                          F.floor(F.col("__q")).cast("bigint"))
              .withColumn("__frac", F.col("__q") - F.floor(F.col("__q"))))
    w_rk = Window.orderBy(F.col("__frac").desc(), F.col("stratum").asc())
    staged = (staged
              # no leftover seats when the total weight is 0 — every
              # quota is 0 and the remainder top-up must stay unfired
              .withColumn("__left",
                          F.when(F.col("__tot") > 0,
                                 F.lit(n_total)
                                 - F.sum("__base").over(w_all))
                          .otherwise(F.lit(0)))
              .withColumn("__rk", F.row_number().over(w_rk)))
    return (staged.select(
        "stratum", "n_rows",
        fl6(F.col("__sd")).alias("stddev"),
        F.col("__w").cast("double").alias("weight"),
        fl6(F.col("__q")).alias("quota"),
        (F.col("__base")
         + F.when(F.col("__rk") <= F.col("__left"), 1).otherwise(0))
        .cast("bigint").alias("n_alloc"))
        .orderBy("stratum"))


def krippendorff_alpha(ratings: DataFrame, unit_col: str, label_col: str
                       ) -> DataFrame:
    """Krippendorff's alpha (nominal) over long-format ratings
    ``(unit, label)`` — one row per (unit, rater) assignment, rater
    identity not needed for the nominal statistic. The
    inter-annotator-agreement generalization of Cohen's kappa (q173):
    any number of raters, missing ratings tolerated (units with a
    single rating drop out of the observed term, standard
    Krippendorff), chance-corrected via the pooled label marginals.
    The labeling-pipeline QA gate: below ~0.67 the rater pool (or the
    teacher ensemble being distilled) is not measuring one construct.

    D_o = (1/n)·Σ_u Σ_c n_uc(m_u−n_uc)/(m_u−1),
    D_e = Σ_c n_c(n−n_c)/(n(n−1)), alpha = 1 − D_o/D_e.

    Exactness: every count is BIGINT; the per-(unit,label) observed
    term rounds its one rational quotient to 6 decimals and folds as
    DECIMAL(18,6) (order-free — the q87 discipline); the expected term
    is pure integer arithmetic in decimal until one double division.
    Two map-side-combined groupBys (unit×label, then label) — no sorts,
    no corpus-wide windows. Returns ONE row: ``(n_units, n_ratings,
    n_labels, d_o, d_e, alpha)``; alpha NULL when D_e = 0 (one label
    total — agreement is vacuous)."""
    base = (ratings.select(F.col(unit_col).alias("__u"),
                           F.col(label_col).alias("__c"))
            .where(F.col("__u").isNotNull() & F.col("__c").isNotNull()))
    uc = base.groupBy("__u", "__c").agg(
        F.count("*").cast("bigint").alias("nuc"))
    return krippendorff_from_unit_label_counts(uc)


def krippendorff_from_unit_label_counts(uc: DataFrame) -> DataFrame:
    """Finalize Krippendorff's alpha from a ``(__u, __c, nuc)``
    (unit, label) → count frame — the shared scorer behind batch
    :func:`krippendorff_alpha` AND the streaming monitor
    (streaming/stateful.finalize_krippendorff_monitor): the count
    matrix is the statistic's exact mergeable sufficient statistic
    (counts add across micro-batches), so stream ≡ batch
    bit-identically through this one code path (the
    woe_from_bucket_counts / ks_from_value_counts discipline)."""
    w_u = Window.partitionBy("__u")
    uc = uc.withColumn("mu", F.sum("nuc").over(w_u))
    # units with a single rating carry no pairable information
    pairable = uc.where(F.col("mu") >= 2)
    term = F.round(
        (F.col("nuc") * (F.col("mu") - F.col("nuc"))).cast("double")
        / (F.col("mu") - 1).cast("double"), 6).cast("decimal(18,6)")
    obs = pairable.agg(
        F.count_distinct("__u").cast("bigint").alias("n_units"),
        # coalesce: SUM over an EMPTY pairable set (every unit a
        # singleton) is NULL, but n_ratings is a COUNT — 0 is the
        # honest value, matching the counts beside it (hypothesis
        # found the edge in round 13: seed 404, all units rated once).
        # d_o/d_e/alpha stay NULL on that edge — undefined, not zero.
        F.coalesce(F.sum("nuc").cast("bigint"),
                   F.lit(0).cast("bigint")).alias("n_ratings"),
        F.sum(term).cast("decimal(38,6)").alias("__dsum"))
    nc = (pairable.groupBy("__c")
          .agg(F.sum("nuc").cast("bigint").alias("nc")))
    w_all = Window.partitionBy(F.lit(1))
    exp = (nc.withColumn("__n", F.sum("nc").over(w_all))
           .agg(F.count("*").cast("bigint").alias("n_labels"),
                F.sum(F.col("nc").cast("decimal(19,0)")
                      * (F.col("__n") - F.col("nc"))
                      .cast("decimal(19,0)"))
                .cast("decimal(38,0)").alias("__esum")))
    out = obs.crossJoin(F.broadcast(exp))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    nd = F.col("n_ratings").cast("double")
    d_o = F.col("__dsum").cast("double") / nd
    d_e = F.col("__esum").cast("double") / (nd * (nd - 1))
    return out.select(
        "n_units", "n_ratings", "n_labels",
        fl6(d_o).alias("d_o"), fl6(d_e).alias("d_e"),
        F.when(F.col("__esum") > 0,
               fl6(F.lit(1.0) - d_o / d_e)).alias("alpha"))


def woe_iv(df: DataFrame, bucket: Column, label: Column) -> DataFrame:
    """Weight-of-evidence / information-value report — the classic
    scorecard diagnostic for how well a BUCKETED feature separates a
    binary outcome: WOE_i = ln((g_i/G)/(b_i/B)) per bucket, IV = Σ
    (g_i/G − b_i/B)·WOE_i (rule of thumb: <0.02 useless, >0.3 strong).
    The feature-selection twin of mutual information (q180) with an
    interpretable per-bucket direction sign.

    ``bucket`` is any engine-portable bucketing expression (fixed-width
    floor, not ntile — a global ntile would sort the corpus);
    ``label`` a boolean column. Exact BIGINT counts, one
    map-side-combined groupBy + windows over the k-bucket frame; WOE
    rounds its log to 6 (q87 discipline) and the IV terms fold as
    DECIMAL(28,12). Degenerate buckets (no positives or no negatives)
    report WOE/IV NULL and are excluded from ``iv_total`` — standard
    practice made loud rather than smoothed. Returns one row per
    bucket: ``(bucket, n_pos, n_neg, woe, iv, iv_total)`` ordered by
    bucket."""
    base = (df.select(bucket.alias("__b"), label.alias("__y"))
            .where(F.col("__b").isNotNull() & F.col("__y").isNotNull()))
    per = base.groupBy("__b").agg(
        F.sum(F.when(F.col("__y"), 1).otherwise(0)).cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("__y"), 0).otherwise(1)).cast("bigint")
        .alias("n_neg")).withColumnRenamed("__b", "bucket")
    return woe_from_bucket_counts(per)


def woe_from_bucket_counts(per: DataFrame) -> DataFrame:
    """Finalize a WOE/IV report from per-bucket ``(bucket, n_pos,
    n_neg)`` counts — the shared tail of :func:`woe_iv` and the
    STREAMING WOE monitor (streaming/stateful.finalize_woe_monitor):
    counts merge by addition, so a stream's accumulated partials
    finalize bit-identically to the batch operator over the union of
    all batches. Windows only over the k-bucket frame."""
    w_all = Window.partitionBy(F.lit(1))
    # "__totg"/"__totb", never "__G"/"__B": Spark resolves column names
    # case-insensitively, so withColumn("__B", ...) would silently
    # REPLACE a "__b" bucket column (the anova_f "N"-vs-"n" lesson)
    per = (per.withColumn("__totg", F.sum("n_pos").over(w_all))
           .withColumn("__totb", F.sum("n_neg").over(w_all)))
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0) \
        & (F.col("__totg") > 0) & (F.col("__totb") > 0)
    gr = F.col("n_pos").cast("double") / F.col("__totg").cast("double")
    br = F.col("n_neg").cast("double") / F.col("__totb").cast("double")
    woe = F.round(F.log(gr / br), 6)
    iv_term = F.when(ok, ((gr - br) * woe).cast("decimal(28,12)"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    per = per.withColumn("__iv", iv_term)
    return (per.select(
        "bucket", "n_pos", "n_neg",
        F.when(ok, woe).alias("woe"),
        F.when(ok, fl6(F.col("__iv").cast("double"))).alias("iv"),
        fl6(F.sum("__iv").over(w_all).cast("double")).alias("iv_total"))
        .orderBy("bucket"))


def diff_in_diff(df: DataFrame, value_col: str, group: Column,
                 post: Column) -> DataFrame:
    """2×2 difference-in-differences estimator: DiD = (ȳ_treat,post −
    ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre), with a pooled standard
    error from the four cell variances (the Welch-style plug-in, no
    equal-variance assumption). The quasi-experimental effect readout
    for a cutover/launch where randomization wasn't available —
    complements the designed-experiment tests (welch q182, ANOVA q191)
    with the observational shape analysts actually face.

    ``group`` must be a boolean column (TRUE = treated) and ``post`` a
    boolean column (TRUE = after the intervention); rows with NULL in
    either are excluded. All four cells' (n, Σμ, Σμ²) accumulate in ONE
    map-side-combined conditional aggregation in exact integer
    micro-units with decimal(38,0) accumulators (the welch_ttest
    contract); means/variances/DiD/SE combine the exact sums in fixed
    double arithmetic, floor6 at the end. Raises at evaluation when any
    cell has < 2 rows (its variance — and the SE — is undefined).
    Returns ONE row: ``(n_tp, n_tr, n_cp, n_cr, mean_treat_post,
    mean_treat_pre, mean_ctrl_post, mean_ctrl_pre, did, se, z)``."""
    return did_from_cell_moments(did_cell_moments(df, value_col,
                                                  group, post))


def did_cell_moments(df: DataFrame, value_col: str, group: Column,
                     post: Column) -> DataFrame:
    """The 2×2 DiD's exact mergeable sufficient statistic: per cell
    (tp/tr/cp/cr), ``(n, Σμ, Σμ²)`` in integer micro-units with
    decimal(38,0) accumulators — ≤ 4 rows whatever the input size, and
    moments ADD across micro-batches, so the streaming monitor appends
    these per batch and finalizes through the same
    :func:`did_from_cell_moments` as the batch operator."""
    v = F.round(F.col(value_col).cast("double"), 6)
    mu = F.floor(v * F.lit(1_000_000.0) + F.lit(0.5))
    cell = (F.when(group & post, "tp").when(group & ~post, "tr")
            .when(~group & post, "cp").when(~group & ~post, "cr"))
    base = (df.select(cell.alias("__cell"), mu.alias("__m"))
            .where(F.col("__cell").isNotNull() & F.col("__m").isNotNull())
            .withColumn("__md", F.col("__m").cast("decimal(38,0)")))
    return (base.groupBy("__cell")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("__md").cast("decimal(38,0)").alias("s"),
                 F.sum(F.col("__md") * F.col("__md"))
                 .cast("decimal(38,0)").alias("ss")))


def did_from_cell_moments(per: DataFrame) -> DataFrame:
    """Finalize the 2×2 DiD report from a ``(__cell, n, s, ss)`` moment
    frame (≤ 4 rows; cells may repeat — they merge by addition, which
    is what makes the streaming twin exact). Shared by batch
    :func:`diff_in_diff` and streaming
    finalize_did_monitor — stream ≡ batch bit-identically."""
    def agg_cell(c):
        hit = F.col("__cell") == c
        zero = F.lit(0).cast("decimal(38,0)")
        return [F.coalesce(F.sum(F.when(hit, F.col("n"))), F.lit(0))
                .cast("bigint").alias(f"n_{c}"),
                F.coalesce(F.sum(F.when(hit, F.col("s"))
                                 .otherwise(zero)), zero)
                .cast("decimal(38,0)").alias(f"s_{c}"),
                F.coalesce(F.sum(F.when(hit, F.col("ss"))
                                 .otherwise(zero)), zero)
                .cast("decimal(38,0)").alias(f"ss_{c}")]

    cells = ["tp", "tr", "cp", "cr"]
    out = per.agg(*[a for c in cells for a in agg_cell(c)])
    guard = F.when(
        (F.col("n_tp") < 2) | (F.col("n_tr") < 2)
        | (F.col("n_cp") < 2) | (F.col("n_cr") < 2),
        F.raise_error(F.lit(
            "diff_in_diff: a cell has < 2 rows — variance undefined")))

    def g(expr, typ="double"):
        return F.coalesce(guard.cast(typ), expr)

    def mean(c):
        return (F.col(f"s_{c}").cast("double")
                / F.col(f"n_{c}").cast("double") / F.lit(1e6))

    def var(c):
        # sample variance (ss − s²/n)/(n−1) — the welch_ttest form
        nd = F.col(f"n_{c}").cast("double")
        s = F.col(f"s_{c}").cast("double")
        ss = F.col(f"ss_{c}").cast("double")
        return (ss - s * s / nd) / (nd - 1) / F.lit(1e12)

    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    did = (mean("tp") - mean("tr")) - (mean("cp") - mean("cr"))
    se2 = sum(var(c) / F.col(f"n_{c}").cast("double") for c in cells)
    se = F.sqrt(se2)
    return out.select(
        *[g(F.col(f"n_{c}"), "bigint").alias(f"n_{c}") for c in cells],
        g(fl6(mean("tp"))).alias("mean_treat_post"),
        g(fl6(mean("tr"))).alias("mean_treat_pre"),
        g(fl6(mean("cp"))).alias("mean_ctrl_post"),
        g(fl6(mean("cr"))).alias("mean_ctrl_pre"),
        g(fl6(did)).alias("did"),
        g(fl6(se)).alias("se"),
        g(F.when(se > 0, fl6(did / se))).alias("z"))


def policy_replay_eval(df: DataFrame, arm_col: str, reward: Column,
                       target_arm: Column) -> DataFrame:
    """Off-policy evaluation by REPLAY (Li et al. 2011): estimate what
    a TARGET decision policy would earn from logs collected under a
    different (logging) policy, using only the rounds where the target
    happens to agree with the logged action — unbiased when the
    logging policy randomized uniformly over arms, and the standard
    first-cut evaluator before an online A/B. The decision-policy
    sibling of the prediction evaluators (AUC q179, calibration q172,
    NDCG q195): those score a MODEL's scores, this scores a POLICY's
    choices from logged feedback.

    ``target_arm`` is any engine-portable deterministic policy
    expression (e.g. a hash-of-context rule); ``reward`` a 0/1 or
    bounded numeric column. One conditional aggregation pass: per arm,
    logged rounds / matched rounds / matched reward mass (rewards
    6-rounded, DECIMAL(18,6) fold), plus an overall row (arm NULL) with
    the replay estimate and match rate. Match rate far from 1/|arms|
    flags a non-uniform logger (the estimate is then biased — loud in
    the report). Returns ``(arm, n_logged, n_matched, reward_rate,
    match_rate)`` ordered with the overall row last (arm NULL)."""
    base = (df.select(F.col(arm_col).alias("__a"),
                      F.round(reward.cast("double"), 6).alias("__r"),
                      target_arm.alias("__t"))
            .where(F.col("__a").isNotNull() & F.col("__r").isNotNull()
                   & F.col("__t").isNotNull()))
    hit = F.col("__a") == F.col("__t")
    per = base.groupBy("__a").agg(
        F.count("*").cast("bigint").alias("n_logged"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
        .alias("n_matched"),
        F.sum(F.when(hit, F.col("__r").cast("decimal(18,6)"))
              .otherwise(F.lit(0).cast("decimal(18,6)")))
        .cast("decimal(38,6)").alias("__rm"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    row = lambda: [
        F.when(F.col("n_matched") > 0,
               fl6(F.col("__rm").cast("double")
                   / F.col("n_matched").cast("double")))
        .alias("reward_rate"),
        F.when(F.col("n_logged") > 0,
               fl6(F.col("n_matched").cast("double")
                   / F.col("n_logged").cast("double")))
        .alias("match_rate")]
    per_arm = per.select(F.col("__a").alias("arm"), "n_logged",
                         "n_matched", *row())
    total = (per.agg(F.sum("n_logged").cast("bigint").alias("n_logged"),
                     F.sum("n_matched").cast("bigint").alias("n_matched"),
                     F.sum("__rm").cast("decimal(38,6)").alias("__rm"))
             .select(F.lit(None).cast(per_arm.schema["arm"].dataType)
                     .alias("arm"), "n_logged", "n_matched", *row()))
    return per_arm.unionByName(total).orderBy(F.col("arm").asc_nulls_last())
