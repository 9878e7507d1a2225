"""Similarity search over embedding columns (BASELINE.json north star;
SURVEY.md §2.12): brute-force cosine top-k baseline + LSH-bucketed and
IVF-style scale paths.

Scale design: brute force is O(n·q) dot products — fine as the exactness
oracle and for small q; the scale paths cut the candidate set per query by
orders of magnitude (random-hyperplane LSH buckets / coarse-centroid IVF
cells), turning a 100 TB full scan into a bucketed semi-join. All vector math
is JVM-side (``zip_with`` + ``aggregate``, functions/vector.py) — no Python
in the scoring loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from powerdatapipeline_spark.functions.vector import (
    array_sql,
    col_sql,
    dot,
    dot_sql,
    l2_norm,
    sign_bucket,
)


def _cosine_ranked(joined: DataFrame, k: int, id_col: str,
                   query_id_col: str, vec_col: str) -> DataFrame:
    """Score candidate (query, corpus) pairs and keep each query's top-k.

    Expects ``__nrm`` (corpus L2 norm) and ``__qvec``/``__qnrm`` (query
    vector + norm) already on the frame: norms are computed ONCE PER ROW
    on each side before the pair join, never per pair — with Q queries the
    naive ``cosine_similarity(vec, qvec)`` re-evaluates the corpus norm's
    interpreted aggregate Q times per corpus row, tripling the dominant
    per-pair cost (dot + 2 norms vs just the dot). The division tree
    ``d / (na · nb)`` is unchanged, so scores stay bit-identical to the
    one-expression form the oracles mirror."""
    cos = F.when((F.col("__nrm") > 0) & (F.col("__qnrm") > 0),
                 dot(vec_col, "__qvec") / (F.col("__nrm") * F.col("__qnrm")))
    scored = joined.select(query_id_col, id_col,
                           F.round(cos, 6).alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(),
                                                 F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
                  .where(F.col("rank") <= k))


def _with_cell(df: DataFrame, cents, vec_col: str,
               cell_name: str = "__cell") -> DataFrame:
    """Assign every row to its max-dot coarse centroid: ONE nested literal
    for all centroids (not n_cells×dim Literal nodes — with hundreds of
    scalar literals the Python expression-tree build and Catalyst analysis
    dominate small queries), scores materialized into ``__sc`` once, then
    argmax over the materialized column — ``array_position(sc,
    array_max(sc))`` on the raw transform would evaluate the interpreted
    dot-product transform twice per row. Shared by the k-means E-step, the
    IVF index writer, and the in-memory IVF search so the assign-to-cell
    expression has exactly one definition."""
    cent_arr = array_sql([[float(x) for x in c] for c in cents])
    sc = F.expr(f"transform({cent_arr}, "
                f"__row -> {dot_sql(col_sql(vec_col), '__row')})")
    return (df.withColumn("__sc", sc)
              .withColumn(cell_name,
                          F.array_position(F.col("__sc"), F.array_max("__sc")) - 1)
              .drop("__sc"))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` (small) is broadcast and cross-joined against the corpus —
    the corpus never shuffles; per-query ranking uses a window partitioned by
    query id. Ties broken by corpus id for determinism.
    """
    q = F.broadcast(queries.select(F.col(query_id_col),
                                   F.col(vec_col).alias("__qvec"))
                    .withColumn("__qnrm", l2_norm("__qvec")))
    joined = embeddings.withColumn("__nrm", l2_norm(vec_col)).crossJoin(q)
    return _cosine_ranked(joined, k, id_col, query_id_col, vec_col)


def hyperplane_lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                        n_planes: int = 8, n_probe: int = 1,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding", query_id_col: str = "query_id",
                        seed: int = 42, dim: int = 64) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH with multi-probe.

    Each vector hashes to an ``n_planes``-bit bucket (sign of dot with fixed
    pseudo-random hyperplanes, deterministic from ``seed``). With
    ``n_probe=1`` a query scans only its own bucket; a true neighbor on the
    far side of any single hyperplane is then invisible. Multi-probe
    (``n_probe>1``) additionally flips the ``n_probe−1`` bits whose margin
    ``|q·plane_i|`` is smallest — exactly the hyperplanes the query sits
    closest to, i.e. the buckets most likely to hold lost neighbors (Lv et
    al., VLDB'07 multi-probe LSH). Cost: the broadcast query side grows
    ×n_probe; the corpus is hashed ONCE and never shuffles. Recall < 1 by
    construction — exactness is :func:`brute_force_topk`; the recall@10
    floor is pinned by tests/test_text_dedup_similarity.py.

    The hyperplanes are generated driver-side (numpy, deterministic) and
    embedded as literals — tiny, no broadcast join needed.
    """
    import numpy as np

    if not (1 <= n_planes <= 62):
        # bucket ids are packed into one signed 64-bit int (bit i = sign of
        # plane i); 63+ planes would overflow the long
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    if not (1 <= n_probe <= n_planes + 1):
        raise ValueError(f"n_probe must be in [1, n_planes+1], got {n_probe}")

    def scores(col: str):
        # per-plane signed margins, materialized once per row so the dot
        # products are not recomputed per bit. Each plane is ONE nested
        # literal (not dim F.lit nodes) and the whole array is ONE SQL
        # parse — with hundreds of scalar literals or per-node lambda
        # calls the Python expression-tree build dominates the query on
        # small inputs
        q = col_sql(col)
        return F.expr("array(" + ", ".join(
            dot_sql(q, array_sql([float(x) for x in planes[i]]))
            for i in range(n_planes)) + ")")

    emb_b = (embeddings
             .withColumn("__sc", scores(vec_col))
             .withColumn("__bucket",
                         sign_bucket("__sc", n_planes).cast("long"))
             .drop("__sc"))
    qs = (queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
          .withColumn("__sc", scores("__qvec"))
          .withColumn("__base",
                      sign_bucket("__sc", n_planes).cast("long")))
    if n_probe == 1:
        q_b = qs.withColumn("__bucket", F.col("__base"))
    else:
        # bits ranked by |margin| ascending — flip the closest hyperplanes
        flip_order = ("transform(array_sort(zip_with(`__sc`, "
                      f"sequence(0, {n_planes - 1}), (__s, __i) -> "
                      "struct(abs(__s) AS margin, __i AS bit))), "
                      "__st -> __st['bit'])")
        # exact 1L<<bit via a literal long lookup (n_planes ≤ 62 entries),
        # not pow(2.0, bit).cast(int): the double→int cast overflows at
        # bit 31 and pow loses exactness past 2^53
        bit_masks = "array(" + ", ".join(
            f"CAST({1 << i} AS BIGINT)" for i in range(n_planes)) + ")"
        probes = F.expr(
            "concat(array(`__base`), transform(slice("
            f"{flip_order}, 1, {n_probe - 1}), __b -> `__base` ^ "
            f"element_at({bit_masks}, CAST(__b AS INT) + 1)))")
        q_b = qs.withColumn("__bucket", F.explode(probes))
    q_b = F.broadcast(q_b.select(query_id_col, "__qvec", "__bucket")
                      .withColumn("__qnrm", l2_norm("__qvec")))
    # probe buckets are pairwise distinct (base / base⊕2^i), so the equi-join
    # cannot duplicate a (query, corpus) pair — no dedup pass needed
    joined = emb_b.withColumn("__nrm", l2_norm(vec_col)).join(q_b, "__bucket")
    return _cosine_ranked(joined, k, id_col, query_id_col, vec_col)


def fit_ivf_centroids(embeddings: DataFrame, n_cells: int = 16,
                      vec_col: str = "embedding", seed: int = 7,
                      dim: int = 64, iters: int = 3) -> list[list[float]]:
    """Fit IVF coarse centroids with spherical k-means (Lloyd iterations).

    Deterministic from ``seed``: unit-normalized random init, then per
    iteration (1) E-step — assign each corpus vector to its max-dot centroid,
    the same distributed expression q47_kmeans_assign uses; (2) M-step —
    per-cell per-dimension mean via ``posexplode`` + one grouped aggregate
    (single shuffle keyed by (cell, dim); the collected result is just
    n_cells×dim floats, never the data), renormalized to unit length. Empty
    cells keep their previous centroid. Centroids are unit vectors so
    max-dot assignment ≡ max-cosine — consistent with the cosine search
    that probes the cells.

    Scale: each iteration is one full corpus pass (map-side partial agg +
    tiny shuffle) — the standard distributed Lloyd layout; ``iters`` is
    small and fixed. At 100 TB you would fit on a sample; the loop is
    unchanged.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_cells, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    # each Lloyd iteration is a full pass over the fit set: cache it once
    # instead of re-reading the source per iteration (released on return),
    # spread across the cluster first — a small fit sample often arrives as
    # one file-partition, which would serialize the interpreted dot-product
    # E-step through a single core for every iteration
    we_cached = False
    if embeddings.storageLevel.useMemory is False:
        par = embeddings.sparkSession.sparkContext.defaultParallelism
        if embeddings.rdd.getNumPartitions() < par:
            # widen narrow fit sets only — shrinking an already-wide corpus
            # to defaultParallelism would lose E-step parallelism (the
            # _spread guard in operators/dedup.py)
            embeddings = embeddings.repartition(par)
        embeddings = embeddings.persist()
        we_cached = True
    for _ in range(iters):
        # decimal sum: addition stays associative, so the fitted centroids
        # are bit-identical no matter how partitions combine (float sums
        # would drift with task completion order once the fit set spans
        # multiple partitions)
        stats = (_with_cell(embeddings, cents, vec_col)
                 .select("__cell", F.posexplode(vec_col).alias("pos", "val"))
                 .groupBy("__cell", "pos")
                 .agg(F.sum(F.col("val").cast("decimal(27,10)")).alias("s"),
                      F.count("*").alias("n"))
                 .collect())
        new = cents.copy()
        counts = {}
        for r in stats:
            cell = int(r["__cell"])   # Row blocks __-prefixed attr access
            new[cell][int(r.pos)] = float(r.s) / r.n
            counts[cell] = r.n
        for c in range(n_cells):
            if c not in counts:       # empty cell: keep the previous centroid
                new[c] = cents[c]
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = new / norms
    if we_cached:
        embeddings.unpersist()
    return [[float(x) for x in c] for c in cents]


def write_ivf_index(embeddings: DataFrame, path: str,
                    centroids: list[list[float]],
                    vec_col: str = "embedding") -> None:
    """Materialize the IVF layout the docstrings promise: the corpus written
    as parquet PARTITIONED BY its coarse-centroid cell id. A query that
    probes ``n_probe`` cells then reads only those directories — Catalyst
    prunes the rest at planning time (PartitionFilters, proven by
    tests/test_text_dedup_similarity.py::test_ivf_index_partition_pruning).
    This is the one-time write that turns every subsequent ANN query into
    an n_probe/n_cells fraction of a full scan."""
    _with_cell(embeddings, centroids, vec_col, cell_name="cell") \
        .write.partitionBy("cell").mode("overwrite").parquet(path)


def _probe_frame(queries: DataFrame, cents, n_probe: int,
                 query_id_col: str, vec_col: str,
                 cell_name: str = "__cell") -> DataFrame:
    """Distributed per-query cell ranking: each query row gains its
    ``n_probe`` best cells (max dot vs the broadcast centroid literal),
    exploded to one (query, cell) row each so the downstream cell lookup is
    an EQUI-join — an array_contains condition would plan as
    BroadcastNestedLoopJoin. Ties break on cell index, matching the
    driver-side ``np.argsort`` path bit-for-bit. Shared by
    :func:`ivf_topk` and :func:`ivf_search_indexed`'s large-|Q| path."""
    n_cells = len(cents)
    qs = queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
    # argsort the cell scores expression-side: pair (−score, cell), sort,
    # take the n_probe best cell ids
    cent_arr = array_sql([[float(x) for x in c] for c in cents])
    sc = f"transform({cent_arr}, __row -> {dot_sql(col_sql('__qvec'), '__row')})"
    ranked_cells = F.expr(
        f"slice(transform(array_sort(zip_with({sc}, sequence(0, "
        f"{n_cells - 1}), (__s, __i) -> struct(-__s AS neg, __i AS cell))), "
        f"__st -> __st['cell']), 1, {n_probe})")
    return (qs.withColumn("__cells", ranked_cells)
              .withColumn(cell_name, F.explode("__cells"))
              .drop("__cells")
              .withColumn("__qnrm", l2_norm("__qvec")))


def ivf_search_indexed(spark, path: str, queries: DataFrame,
                       centroids: list[list[float]], k: int = 10,
                       n_probe: int = 4, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       query_id_col: str = "query_id",
                       collect_threshold: int = 1024) -> DataFrame:
    """ANN search over a :func:`write_ivf_index` layout. Two cell-ranking
    paths, chosen by query-batch size (VERDICT r6 #6):

    * **|Q| ≤ collect_threshold** (the top-k serving shape): queries are
      collected and cells ranked driver-side — |Q| × n_cells dots over a
      tiny centroid matrix — yielding an exact ``isin`` partition filter,
      so Catalyst prunes unprobed cell directories at PLANNING time and
      the corpus never shuffles (probes broadcast).
    * **|Q| > collect_threshold** (bulk re-ranking): nothing is collected.
      Cells are ranked DISTRIBUTEDLY with the same expression
      :func:`ivf_topk` uses; the scan still prunes to cells probed by ≥1
      query via one tiny distinct-cell aggregate (≤ n_cells rows — with a
      huge batch that approaches all cells, which is the true workload).
      The probe join is left to AQE (a million-query frame must not be
      force-broadcast).

    Tie handling: both paths break score ties on the cell index (the
    driver path uses a STABLE argsort to match the expression-side
    (−score, cell) struct sort). Scores themselves can differ in the
    last ulp between BLAS and Spark's sequential fold, so an exactly
    tied pair of non-identical dot products is the one measure-zero
    boundary where the paths may probe different cells; the parity
    pytest pins them equal on realistic data."""
    import numpy as np

    cents = np.asarray(centroids, dtype=float)
    # ONE job decides the path AND feeds the serving branch — a separate
    # count() would fully materialize the frame per call and the serving
    # path would then collect it a second time
    qrows = queries.select(query_id_col, vec_col) \
                   .take(collect_threshold + 1)
    if len(qrows) > collect_threshold:
        probes = _probe_frame(queries, cents, n_probe, query_id_col,
                              vec_col, cell_name="cell")
        cells = sorted(r["cell"]
                       for r in probes.select("cell").distinct().collect())
        corpus = spark.read.parquet(path).where(F.col("cell").isin(cells))
        joined = corpus.withColumn("__nrm", l2_norm(vec_col)) \
                       .join(probes, "cell")
        return _cosine_ranked(joined, k, id_col, query_id_col, vec_col)
    probe_pairs = []   # (query_id, cell) — driver-side: |Q| × n_cells dots
    qvecs = {}
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=float)
        qvecs[r[query_id_col]] = r[vec_col]
        # stable sort: equal scores keep ascending cell order, matching
        # the distributed path's (neg, cell) struct sort tie-break
        order = np.argsort(-(cents @ qv), kind="stable")[:n_probe]
        probe_pairs += [(r[query_id_col], int(c)) for c in order]
    cells = sorted({c for _, c in probe_pairs})
    corpus = spark.read.parquet(path).where(F.col("cell").isin(cells))
    # probe schema derived from the queries frame, not hardcoded: a string
    # query id must survive, and array<double> query vectors must NOT be
    # silently narrowed to float32 (that shifts cosines vs ivf_topk and can
    # flip near-tie ranks)
    probe_schema = T.StructType([
        queries.schema[query_id_col],
        T.StructField("cell", T.LongType(), False),
        T.StructField("__qvec", queries.schema[vec_col].dataType, True)])
    probes = spark.createDataFrame(
        [(qid, c, qvecs[qid]) for qid, c in probe_pairs], probe_schema)
    joined = (corpus.withColumn("__nrm", l2_norm(vec_col))
              .join(F.broadcast(probes.withColumn("__qnrm", l2_norm("__qvec"))),
                    "cell"))
    return _cosine_ranked(joined, k, id_col, query_id_col, vec_col)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
             n_cells: int = 16, n_probe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             seed: int = 7, dim: int = 64,
             centroids: list[list[float]] | None = None,
             fit_iters: int = 0) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest coarse
    centroid, then each query scores only vectors in its ``n_probe`` nearest
    cells.

    Centroids come from, in order of precedence: the ``centroids`` argument
    (pre-fitted, e.g. :func:`fit_ivf_centroids` on a sample), a k-means fit
    when ``fit_iters > 0`` (runs ``fit_iters`` Lloyd iterations on the
    corpus), else deterministic unit random vectors (``fit_iters=0`` — cheap
    but cell occupancy is unbalanced and recall uncontrolled; kept as the
    zero-pass fallback).

    At 100 TB: fit centroids once on a sample, write the corpus partitioned
    by cell id (partition pruning → each query touches n_probe/n_cells of
    the data).
    """
    import numpy as np

    if centroids is not None:
        cents = np.asarray(centroids, dtype=float)
    elif fit_iters > 0:
        cents = np.asarray(fit_ivf_centroids(
            embeddings, n_cells, vec_col, seed, dim, fit_iters), dtype=float)
    else:
        cents = np.random.default_rng(seed).standard_normal((n_cells, dim))
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    emb_c = _with_cell(embeddings, cents, vec_col)
    q_c = F.broadcast(_probe_frame(queries, cents, n_probe,
                                   query_id_col, vec_col))
    joined = emb_c.withColumn("__nrm", l2_norm(vec_col)).join(q_c, "__cell")
    return _cosine_ranked(joined, k, id_col, query_id_col, vec_col)


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             id_col: str = "doc_id", rank_col: str = "rank",
             k: int = 10, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (Cormack, Clarke &
    Büttcher 2009): ``rrf(d) = Σ_lists 1/(c + rank_d)`` — the standard
    hybrid-search combiner for a sparse (BM25) and a dense (embedding
    cosine) ranker, robust to incomparable score scales because only
    RANKS enter the sum. Documents ranked by a single list still score
    (the other term contributes 0). Returns the fused top ``k``:
    ``(id, rank_a, rank_b, rrf_score, rank)`` total-ordered by
    (rrf desc, id asc).

    Scale shape: both inputs are already top-k' frames (tiny); the
    full-outer join and re-rank window run on ≤ |a|+|b| rows — constant
    cost regardless of corpus size. The heavy lifting lives in the
    upstream rankers (inverted index / ANN), which is the point of
    fusing ranks instead of re-scoring."""
    a = ranked_a.select(F.col(id_col),
                        F.col(rank_col).cast("int").alias("rank_a"))
    b = ranked_b.select(F.col(id_col),
                        F.col(rank_col).cast("int").alias("rank_b"))
    fused = (a.join(b, id_col, "full_outer")
             .withColumn("rrf_score", F.round(
                 F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rank_a")),
                            F.lit(0.0))
                 + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rank_b")),
                              F.lit(0.0)), 6)))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (fused.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select(id_col, "rank_a", "rank_b", "rrf_score", "rank"))


def random_projection(embeddings: DataFrame, out_dim: int = 16,
                      vec_col: str = "embedding", seed: int = 11,
                      dim: int = 64,
                      out_col: str = "proj") -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dimensions:
    ``proj = R·v`` with a deterministic Gaussian matrix
    ``R ~ N(0,1)/√out_dim`` — the standard cheap pre-step before ANN /
    clustering when the native dimension is large (JL lemma: pairwise
    distances are preserved within (1±ε) w.h.p.; the pytest pins a loose
    empirical bound).

    The matrix is generated driver-side (numpy, deterministic from
    ``seed``) and embedded as ONE nested literal (the hyperplane-LSH
    pattern); each output component is a PLAIN-DOUBLE left-fold dot
    (``dot``) rounded to 6 — bit-reproducible against any oracle that
    folds in the same order (DuckDB ``list_reduce``; a decimal-product
    formulation is NOT cross-engine-safe here — see the ddot caveat).
    Narrow map — no shuffle, embarrassingly parallel at any scale."""
    import numpy as np

    rng = np.random.default_rng(seed)
    R = rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)
    r_lit = array_sql([[float(x) for x in row] for row in R])
    proj = F.expr(f"transform({r_lit}, "
                  f"__row -> round({dot_sql(col_sql(vec_col), '__row')}, 6))")
    return embeddings.withColumn(out_col, proj)


def int8_quantize_fit(embeddings: DataFrame, vec_col: str = "embedding",
                      dim: int = 64) -> tuple[list, list]:
    """Per-dimension (min, max) calibration for int8 scalar quantization
    — the standard 4× embedding-compression step before similarity
    search at scale (a 100 TB float32 embedding store becomes 25 TB of
    codes; recall loss is small because ranking only needs relative
    order). One posexplode + grouped min/max pass; the result is
    ``dim`` pairs of floats (a fixed-size collect, the centroids
    pattern)."""
    mm = (embeddings.select(F.posexplode(vec_col).alias("d", "x"))
          .groupBy("d").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
          .collect())
    by_d = {r["d"]: (r["lo"], r["hi"]) for r in mm}
    if set(by_d) != set(range(dim)):
        # a dim mismatch would otherwise surface as a bare KeyError here
        # or, worse, as silently NULL-poisoned scores downstream
        raise ValueError(
            f"embedding dimensions observed {sorted(by_d)[:3]}..."
            f"{sorted(by_d)[-1:]} do not match dim={dim}")
    los = [float(by_d[d][0]) for d in range(dim)]
    his = [float(by_d[d][1]) for d in range(dim)]
    return los, his


def _int8_codes(vec_col, lo, hi):
    """Quantization codes 0..255: ``floor((x−lo)/scale + 0.5)`` clamped —
    explicit floor per the engine-portability rules; zero-range dims
    (constant across the corpus) code to 0."""
    def code(x, i):
        l = F.element_at(lo, i + 1)
        h = F.element_at(hi, i + 1)
        scale = (h - l) / 255.0
        c = F.floor((x.cast("double") - l) / scale + 0.5)
        return (F.when(h > l,
                       F.least(F.greatest(c, F.lit(0)), F.lit(255)))
                .otherwise(F.lit(0))).cast("int")
    return F.transform(F.col(vec_col), code)


def int8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              query_id_col: str = "query_id", dim: int = 64) -> DataFrame:
    """Approximate top-k by dot product over int8-DEQUANTIZED vectors:
    corpus and queries quantize against the same per-dim calibration
    (embedded as two literal arrays — no per-row fit state), scores are
    the plain-double left-fold dot of the dequantized codes, ranking is
    total-ordered (score desc, id). The quantization error is bounded
    per dim by scale/2, so ranking survives for well-spread embeddings;
    tests pin recall@k against the exact brute force. Queries broadcast,
    the corpus never shuffles — the q31 shape on compressed codes."""
    los, his = int8_quantize_fit(embeddings, vec_col, dim)
    lo = F.array(*[F.lit(v) for v in los])
    hi = F.array(*[F.lit(v) for v in his])

    def dequant(codes_col):
        return F.transform(
            codes_col,
            lambda c, i: F.element_at(lo, i + 1)
            + c.cast("double")
            * (F.element_at(hi, i + 1) - F.element_at(lo, i + 1)) / 255.0)

    corpus = (embeddings
              .withColumn("__dq", dequant(_int8_codes(vec_col, lo, hi))))
    qs = (queries
          .withColumn("__qdq", dequant(_int8_codes(vec_col, lo, hi)))
          .select(F.col(query_id_col), "__qdq"))
    score = F.round(F.aggregate(
        F.zip_with("__dq", "__qdq", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x), 6)
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("qscore"), F.asc(id_col))
    return (corpus.crossJoin(F.broadcast(qs))
            .select(query_id_col, id_col, score.alias("qscore"))
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k))


def centroid_cosine_matrix(embeddings: DataFrame, group_col: str = "label",
                           vec_col: str = "embedding") -> DataFrame:
    """Per-group embedding centroids + the pairwise centroid-cosine
    matrix — the corpus-geometry report next to the vocabulary-overlap
    matrix (text.source_vocab_overlap): near-collinear group centroids
    flag semantically redundant slices before mixing (the corpus-level
    cousin of SemDeDup's per-cluster rule), near-orthogonal ones flag
    genuinely novel domains.

    Scale shape: vectors posexplode to (group, dim) — the groupBy is on
    #groups×dim keys, so the heavy input reduces map-side and the
    centroid table is tiny regardless of corpus size. Norms reduce from
    the centroid table; the pair dot is an equi-join of the centroid
    long-form with itself keyed on dim (inequality on group only as a
    post-filter), bounded by #groups²·dim. No driver collect, nothing
    corpus-sized broadcast.

    Parity: dimension means and the dot/norm folds run in
    decimal(28,12); sqrt and every published value round to 6."""
    e = (embeddings
         .select(F.col(group_col).alias("g"),
                 F.posexplode(vec_col).alias("dim", "v"))
         .withColumn("v", F.col("v").cast("double")))
    cent = (e.groupBy("g", "dim")
            .agg(F.round(F.sum(F.col("v").cast("decimal(28,12)"))
                         .cast("double") / F.count("*"), 6).alias("c"))
            .persist())
    nrm = cent.groupBy("g").agg(
        F.round(F.sqrt(F.sum((F.col("c") * F.col("c"))
                             .cast("decimal(28,12)")).cast("double")), 6)
        .alias("s"))
    counts = (embeddings.groupBy(F.col(group_col).alias("g"))
              .agg(F.count("*").cast("bigint").alias("n")))
    a = cent.select(F.col("g").alias("g_a"), "dim", F.col("c").alias("ca"))
    b = cent.select(F.col("g").alias("g_b"), "dim", F.col("c").alias("cb"))
    dots = (a.join(b, "dim")
            .filter(F.col("g_a") < F.col("g_b"))
            .groupBy("g_a", "g_b")
            .agg(F.sum((F.col("ca") * F.col("cb")).cast("decimal(28,12)"))
                 .cast("double").alias("d")))
    na = nrm.select(F.col("g").alias("g_a"), F.col("s").alias("s_a"))
    nb = nrm.select(F.col("g").alias("g_b"), F.col("s").alias("s_b"))
    ca_ = counts.select(F.col("g").alias("g_a"), F.col("n").alias("n_a"))
    cb_ = counts.select(F.col("g").alias("g_b"), F.col("n").alias("n_b"))
    out = (dots.join(F.broadcast(na), "g_a").join(F.broadcast(nb), "g_b")
           .join(F.broadcast(ca_), "g_a").join(F.broadcast(cb_), "g_b")
           .select("g_a", "g_b", "n_a", "n_b",
                   F.when((F.col("s_a") > 0) & (F.col("s_b") > 0),
                          F.round(F.col("d")
                                  / (F.col("s_a") * F.col("s_b")), 6))
                   .alias("cosine"))
           .localCheckpoint(eager=True))
    cent.unpersist()
    return out


def _sub_l2(a, b, d_sub: int):
    """Rounded squared-L2 between two ``d_sub``-dim array slices via the
    engine-portable PLAIN-DOUBLE left fold (the q98 construction: Spark
    ``aggregate`` ≡ DuckDB ``list_reduce`` term-for-term, so the sum is
    bit-identical without decimal casts), 6-rounded per the
    transcendental-parity rule so downstream decimal sums are exact."""
    diffs = F.zip_with(a, b, lambda x, y:
                       (x.cast("double") - y.cast("double"))
                       * (x.cast("double") - y.cast("double")))
    return F.round(F.aggregate(diffs, F.lit(0.0),
                               lambda acc, v: acc + v), 6)


def pq_seed_codebook(emb: DataFrame, m: int = 8, k: int = 16,
                     dim: int = 64, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Product-quantization codebook from DETERMINISTIC seed vectors
    (the q47 seed-centroid discipline: ``id < k``, so the fit is
    replayable by any engine; a production fit swaps in sampled
    per-subspace k-means centroids — same downstream contract): the
    vector space splits into ``m`` subspaces of ``dim/m`` dims and each
    seed's j-th slice becomes codeword ``(j, code)``. Output is the
    ``m·k``-row codebook frame ``(j, code, cvec)`` — tiny by
    construction (128 rows at the defaults), always broadcastable."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    seeds = emb.where(F.col(id_col) < k)
    return (seeds.select(F.col(id_col).cast("int").alias("code"),
                         F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                         .alias("j"), F.col(vec_col))
            .select("code", "j",
                    F.slice(F.col(vec_col), F.col("j") * d_sub + 1,
                            F.lit(d_sub)).alias("cvec")))


def pq_encode(emb: DataFrame, codebook: DataFrame, m: int = 8,
              dim: int = 64, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ encoding: every vector compresses to ``m`` one-byte codes —
    its nearest codeword per subspace (squared-L2, code tie-break). At
    64 float dims → 8 codes that's 32× memory compression; the encoded
    corpus (``vec_id, j, code``) is what a 100 TB ANN index actually
    stores and scans.

    Shape: explode to ``m`` slices per vector, broadcast-join the
    ``m·k``-row codebook, argmin via one row_number window partitioned
    by (vector, subspace) — a single narrow pass over ``N·m·k``
    candidate rows with ``d_sub``-dim folds, no shuffle beyond the
    window's hash partition."""
    d_sub = dim // m
    sub = (emb.select(F.col(id_col),
                      F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                      .alias("j"), F.col(vec_col))
           .select(id_col, "j",
                   F.slice(F.col(vec_col), F.col("j") * d_sub + 1,
                           F.lit(d_sub)).alias("svec")))
    scored = (sub.join(F.broadcast(codebook), "j")
              .withColumn("dist", _sub_l2(F.col("svec"), F.col("cvec"),
                                          d_sub)))
    w = Window.partitionBy(id_col, "j").orderBy("dist", "code")
    return (scored.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1").select(id_col, "j", "code"))


def pq_adc_topk(emb: DataFrame, queries: DataFrame, k_top: int = 10,
                m: int = 8, k_codes: int = 16, dim: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """PQ asymmetric-distance top-k (Jégou et al., IEEE TPAMI 2011 —
    the memory-bound ANN path beside LSH buckets and IVF cells): the
    corpus is scanned as CODES ONLY; each query precomputes an
    ``m × k`` table of exact subspace distances to every codeword, and
    a candidate's approximate distance is ``Σ_j table[j][code_j]`` — m
    BIGINT-keyed lookups instead of a ``dim``-dim float kernel, against
    32×-compressed data.

    Parity: subspace distances are 6-rounded plain-double folds
    (`_sub_l2`), the ADC total is an EXACT decimal sum of those rounded
    terms, and ranking ties break on vec_id — every step replays
    bit-identically in the oracle engine.

    Scale shape: distance tables are ``|Q|·m·k`` rows — broadcast; the
    probe is a broadcast-hash join of the encoded corpus (``N·m``
    rows) to the tables on ``(j, code)`` then an ``N·|Q|``-key partial
    aggregation of m terms each, and a per-query top-k window. The
    corpus never re-reads its float vectors after encode — at 100 TB
    the float column stays in cold storage and the scan touches only
    the 8-byte code rows."""
    codebook = pq_seed_codebook(emb, m, k_codes, dim, id_col, vec_col)
    codes = pq_encode(emb, codebook, m, dim, id_col, vec_col)
    d_sub = dim // m
    qsub = (queries.select(F.col(query_id_col),
                           F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
                           .alias("j"), F.col(vec_col))
            .select(query_id_col, "j",
                    F.slice(F.col(vec_col), F.col("j") * d_sub + 1,
                            F.lit(d_sub)).alias("qvec")))
    dtab = (qsub.join(F.broadcast(codebook), "j")
            .select(query_id_col, "j", "code",
                    _sub_l2(F.col("qvec"), F.col("cvec"), d_sub)
                    .alias("qdist")))
    probed = (codes.join(F.broadcast(dtab), ["j", "code"])
              .groupBy(query_id_col, id_col)
              .agg(F.sum(F.col("qdist").cast("decimal(18,6)"))
                   .cast("double").alias("adc_dist")))
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc_dist"),
                                                 F.col(id_col))
    return (probed.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_top)
            .select(query_id_col, id_col, "rank", "adc_dist"))


def knn_classify(labeled: DataFrame, queries: DataFrame, k: int = 5,
                 n_planes: int = 8, n_probe: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label",
                 query_id_col: str = "query_id",
                 seed: int = 42, dim: int = 64) -> DataFrame:
    """k-NN label classification over the embedding column — the
    weak-labeling / label-transfer step of corpus curation (propagate a
    small human-labeled seed set's domains/quality tags to the whole
    corpus): each query takes the majority label of its k nearest
    LABELED neighbors (cosine, via the same multi-probe hyperplane-LSH
    candidate generation as the ANN path, so no all-pairs shape exists
    at any scale).

    Vote resolution is deterministic: winner by (votes desc, label
    asc); ties in neighbor rank resolve inside
    :func:`hyperplane_lsh_topk` by (cosine desc, id). Output one row
    per query: predicted label, vote count, and the decimal-exact SUM
    of the winning label's neighbor cosines as a confidence proxy.

    Scale shape: inherits the LSH path's — the labeled corpus hashes
    once and never shuffles; queries broadcast ×n_probe; the vote is a
    ≤ k·|Q|-row aggregation. k-NN with |labeled| ≪ corpus is exactly
    the regime where the broadcast side is the SEED set, so 100 TB of
    unlabeled queries stream map-side."""
    neigh = hyperplane_lsh_topk(labeled, queries, k=k, n_planes=n_planes,
                                n_probe=n_probe, id_col=id_col,
                                vec_col=vec_col,
                                query_id_col=query_id_col,
                                seed=seed, dim=dim)
    labels = labeled.select(F.col(id_col), F.col(label_col))
    votes = (neigh.join(labels, id_col)
             .groupBy(query_id_col, label_col)
             .agg(F.count("*").cast("bigint").alias("n_votes"),
                  # EXACT decimal sum, not a mean: the 6-rounded cosines
                  # divided by small vote counts land exactly on
                  # .xxxxxx5 round boundaries (sum/2 does so half the
                  # time), where Spark's shortest-repr rounding and an
                  # exact-binary rounding disagree (the ddot caveat —
                  # bit us at sf0.1). The sum is bit-exact everywhere
                  # and ranks identically as a confidence signal.
                  F.sum(F.col("cosine").cast("decimal(18,6)"))
                  .cast("double").alias("sum_cosine")))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("n_votes").desc(), F.col(label_col).asc())
    return (votes.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1")
            .select(query_id_col, F.col(label_col).alias("pred_label"),
                    "n_votes", "sum_cosine"))


def truncation_recall(embeddings: DataFrame, queries: DataFrame,
                      dims, k: int = 10, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      query_id_col: str = "query_id") -> DataFrame:
    """Dimension-truncation recall curve — the evaluation harness for
    Matryoshka-style embedding truncation: search with only the first
    ``d`` components (2-8× cheaper dot products and index storage) and
    measure recall@k against full-dimension ground truth, one row per
    candidate ``d``. This is how you pick the cheapest dimension that
    still clears a recall bar BEFORE committing a 100 TB corpus to a
    truncated index.

    Both the truncated and the full-dim top-k use the exact brute-force
    scorer (:func:`brute_force_topk` — intentional brute-force baseline,
    bounded |Q|: this is an EVAL harness over a fixed probe set, not
    the production search path, which stays LSH/IVF). Recall@k =
    |topk_d ∩ topk_full| / |topk_full|, 6-rounded; the 1-row
    ground-truth count joins by scalar broadcast. Since each query
    vector is its own nearest neighbor at every dimension, recall is
    bounded below by 1/k by construction."""
    dims = sorted(set(int(d) for d in dims))
    if not dims:
        raise ValueError("truncation_recall needs at least one dim")
    full = (brute_force_topk(embeddings, queries, k=k, id_col=id_col,
                             vec_col=vec_col, query_id_col=query_id_col)
            .select(query_id_col, id_col).persist())
    n_full = full.agg(F.count("*").cast("bigint").alias("n_full"))
    outs = []
    for d in dims:
        emb_d = embeddings.withColumn(vec_col,
                                      F.slice(F.col(vec_col), 1, d))
        q_d = queries.withColumn(vec_col, F.slice(F.col(vec_col), 1, d))
        t = brute_force_topk(emb_d, q_d, k=k, id_col=id_col,
                             vec_col=vec_col, query_id_col=query_id_col)
        outs.append(
            t.join(full, [query_id_col, id_col])
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .select(F.lit(d).cast("bigint").alias("dim"), "n_hits"))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    out = (res.crossJoin(F.broadcast(n_full))
           .select("dim", "n_hits", "n_full",
                   F.round(F.col("n_hits") / F.col("n_full"), 6)
                   .alias("recall"))
           .localCheckpoint(eager=True))
    full.unpersist()
    return out


def centroid_calibration(embeddings: DataFrame, n_bins: int = 10,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label") -> DataFrame:
    """Reliability diagram + per-bin calibration gaps for the
    nearest-centroid classifier — the "is my quality/domain classifier's
    confidence trustworthy" audit (Guo et al. 2017's ECE, binned): a
    filter that says 0.9 but is right 70% of the time silently skews
    any confidence-thresholded curation step, so calibration is checked
    BEFORE the classifier gates a corpus.

    Classifier: predict the label whose embedding centroid has the
    highest cosine (ties → smaller label); confidence = (1+cos)/2
    mapped onto [0,1] (an exact power-of-two rescale of the 6-rounded
    cosine — deterministic, never re-rounded). Centroids fit in long
    form — posexplode to (label, dim), decimal-exact dimension means —
    so the fit is one map-side-combined reduce to #labels×dim rows;
    scoring joins the corpus long-form to the tiny centroid table on
    dim (equi-join, #labels×dim rows broadcast), never per-pair UDF
    work.

    Returns one row per confidence bin: ``(bin, n, n_correct,
    accuracy, sum_cos)``. The bin's mean confidence is
    ``(n + sum_cos) / (2n)`` and ECE is the n-weighted mean of
    ``|mean_conf − accuracy|`` — published as EXACT components, not
    pre-divided means: a 6-rounded cosine sum halved lands exactly on
    .xxxxxx5 round boundaries (the knn_classify sum-vs-mean caveat,
    reproduced here at 1e-6 during development), where Spark's
    shortest-repr rounding and an exact-binary rounding disagree.
    ``accuracy = n_correct/n`` is safe: dyadic-n quotients are exactly
    representable (both engines round the same exact tie away from
    zero) and non-dyadic quotients never land a shortest repr on the
    half-grid."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    pred = centroid_predict(embeddings, id_col=id_col, vec_col=vec_col,
                            label_col=label_col)
    conf = (F.lit(1.0) + F.col("cos")) / 2
    binned = pred.select(
        F.least(F.floor(conf * n_bins), F.lit(n_bins - 1)).cast("bigint")
        .alias("bin"),
        F.col("cos"),
        (F.col("g") == F.col(label_col)).alias("ok"))
    return (binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("bigint")
        .alias("n_correct"),
        F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
        .alias("sum_cos"))
        .select("bin", "n", "n_correct",
                F.round(F.col("n_correct") / F.col("n"), 6)
                .alias("accuracy"),
                "sum_cos"))


def centroid_predict(embeddings: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Nearest-centroid label prediction — the shared classifier under
    the calibration audit (:func:`centroid_calibration`) and the
    classification report (q176): per-label centroids fit in long form
    (posexplode to (label, dim), decimal-exact dimension means), every
    vector scored against the tiny centroid table by a dim-keyed
    equi-join, argmax by (cosine desc, label asc).

    Components are 6-rounded up front: every downstream decimal-cast
    product then multiplies two ~6-decimal doubles, the class where
    Spark's shortest-repr double→decimal cast and DuckDB's
    exact-binary rounding provably agree (the ddot caveat — raw
    float32 components broke parity at 1e-6 in development). Returns
    one row per input vector: ``(id_col, label_col, g, cos)`` with
    ``g`` the predicted label and ``cos`` its 6-rounded centroid
    cosine (-1.0 for degenerate zero norms)."""
    from powerdatapipeline_spark.operators.relational import \
        widen_narrow_scan

    # widen before the dim-explode: a narrow scan pins the 64× row
    # fan-out and every downstream long-form moment to one task (no-op
    # when the input arrives as >= parallelism splits)
    e = (widen_narrow_scan(
            embeddings.select(F.col(id_col), F.col(label_col),
                              F.col(vec_col)), by=id_col)
         .select(F.col(id_col), F.col(label_col),
                 F.posexplode(vec_col).alias("dim", "v"))
         .withColumn("v", F.round(F.col("v").cast("double"), 6)))
    # the dimension mean is rounded with floor(x*1e6 + 0.5)/1e6, NOT
    # round(x, 6): sum/count with a 6-decimal sum lands EXACTLY on the
    # .5e-6 half-grid (PARITY r9: label-9 dim-6 at sf0.1 had
    # 0.616992/192 = 0.0032135 — a true tie where Spark's HALF_UP on
    # the binary double and DuckDB's scaled-multiply round() diverge);
    # the explicit formula is identical IEEE ops in both engines.
    cmean = (F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
             / F.count("*"))
    cent = (e.groupBy(F.col(label_col).alias("g"), "dim")
            .agg((F.floor(cmean * F.lit(1_000_000.0) + F.lit(0.5))
                  .cast("double") / F.lit(1_000_000.0)).alias("c")))
    cnorm = cent.groupBy("g").agg(
        F.round(F.sqrt(F.sum((F.col("c") * F.col("c"))
                             .cast("decimal(28,12)")).cast("double")), 6)
        .alias("cn"))
    vnorm = e.groupBy(id_col).agg(
        F.round(F.sqrt(F.sum((F.col("v") * F.col("v"))
                             .cast("decimal(28,12)")).cast("double")), 6)
        .alias("vn"))
    dots = (e.join(F.broadcast(cent), "dim")
            .groupBy(id_col, F.col(label_col), "g")
            .agg(F.sum((F.col("v") * F.col("c")).cast("decimal(28,12)"))
                 .cast("double").alias("d")))
    # cos is rounded with the EXPLICIT floor(x*1e6 + 0.5)/1e6 formula,
    # not round(x, 6): the quotient of three 6-rounded doubles lands
    # within 1e-11 of a .5e-6 half-grid boundary often enough at sf0.1
    # (~1e5 quotients) that Spark's BigDecimal HALF_UP and DuckDB's
    # scaled-double round() disagree by 1 ulp of the 6th decimal
    # (PARITY r9: q172's sum_cos drifted 1e-5 from exactly such rows).
    # floor/multiply/add are pure IEEE doubles — engine-identical by
    # construction, the same rule benford_audit applies to cents.
    q = F.col("d") / (F.col("vn") * F.col("cn"))
    cos6 = F.floor(q * F.lit(1_000_000.0) + F.lit(0.5)) \
            .cast("double") / F.lit(1_000_000.0)
    scored = (dots.join(F.broadcast(cnorm), "g")
              .join(vnorm, id_col)
              .select(id_col, label_col, "g",
                      F.when((F.col("vn") > 0) & (F.col("cn") > 0), cos6)
                      .otherwise(F.lit(-1.0)).alias("cos")))
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(),
                                           F.col("g").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .where("__rn = 1").drop("__rn"))


def ranking_metrics(ranked: DataFrame, rel_col: str,
                    score_col: str = "score", id_col: str = "doc_id",
                    k: int = 10, rel_threshold: int = 2) -> DataFrame:
    """Ranking-quality metrics (DCG@k / NDCG@k / MRR / precision@k) for
    a scored candidate frame with graded relevance — the EVAL half the
    retrieval family (TF-IDF q77, BM25 q83, hybrid RRF q89) was
    missing: a search pipeline without NDCG is a ranker nobody can
    tune. Standard formulation (Järvelin & Kekäläinen 2002):
    gain 2^rel − 1, discount log2(pos + 1), ideal order re-sorts the
    SAME candidates by relevance.

    Input contract: ``ranked`` is an already-small candidate frame (a
    top-k retrieval output — bounded by k per query, NOT corpus-sized;
    the keyless windows here are footnote-sized by construction).
    Ranks are deterministic: actual order (score desc, id asc), ideal
    order (rel desc, score desc, id asc). Each position's term
    (2^rel − 1)/log2(pos+1) is 6-rounded (the transcendental rule —
    2^rel is exact in double for rel ≤ 52) then decimal-folded, so
    DCG/IDCG are partition-order-free; NDCG/MRR are fixed double
    ratios, floor6. MRR is 1/first-position with rel ≥ rel_threshold
    (0.0 when no candidate qualifies — a published miss, not a NULL).
    Returns one row:
    ``(k, n_ranked, dcg, idcg, ndcg, mrr, precision_at_k)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rel = F.col(rel_col).cast("int")
    base = (ranked.select(F.col(id_col).alias("__id"),
                          F.col(score_col).alias("__s"), rel.alias("__r"))
            .where(F.col("__s").isNotNull() & F.col("__r").isNotNull()))
    wa = Window.orderBy(F.desc("__s"), F.asc("__id"))
    wi = Window.orderBy(F.desc("__r"), F.desc("__s"), F.asc("__id"))
    pos = (base.withColumn("pos", F.row_number().over(wa))
           .withColumn("ipos", F.row_number().over(wi))
           .where(F.col("pos") <= k))
    gain = F.pow(F.lit(2.0), F.col("__r")) - F.lit(1.0)
    dterm = F.round(gain / F.log2(F.col("pos").cast("double") + 1), 6)
    # the ideal list must rank the same top-k CANDIDATES (pos <= k
    # filter above), re-discounted at their relevance-sorted positions
    iterm = F.round(gain / F.log2(F.col("ipos").cast("double") + 1), 6)
    hit = F.when(F.col("__r") >= rel_threshold, F.col("pos"))
    agg = pos.agg(
        F.count("*").cast("bigint").alias("n_ranked"),
        F.sum(dterm.cast("decimal(18,6)")).cast("double").alias("dcg"),
        F.sum(iterm.cast("decimal(18,6)")).cast("double").alias("idcg"),
        F.min(hit).cast("bigint").alias("__first_hit"),
        F.sum(F.when(F.col("__r") >= rel_threshold, 1).otherwise(0))
        .cast("bigint").alias("__hits"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return agg.select(
        F.lit(k).cast("bigint").alias("k"), "n_ranked", "dcg", "idcg",
        F.when(F.col("idcg") > 0, fl6(F.col("dcg") / F.col("idcg")))
        .alias("ndcg"),
        F.when(F.col("__first_hit").isNotNull(),
               fl6(F.lit(1.0) / F.col("__first_hit").cast("double")))
        .otherwise(F.lit(0.0)).alias("mrr"),
        fl6(F.col("__hits").cast("double") / F.lit(float(k)))
        .alias("precision_at_k"))


def centroid_shift_report(df: DataFrame, vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Per-label embedding centroid shift vs the corpus centroid — the
    embedding-space drift/imbalance screen (which class sits far from
    the population center?): L2 distance between each label's mean
    vector and the global mean vector, with the label's share of mass.

    One narrow posexplode to (label, dim, value) — a k×dim aggregate,
    never pairwise — per-dim means from exact decimal sums (float →
    double casts are exact), squared diffs decimal-summed over the
    dim-frame (|dims| rows per label), IEEE-exact sqrt, floor6 output.
    Returns ``(label, n_vectors, l2_shift)`` ordered by label."""
    ex = (df.where(F.col(label_col).isNotNull()
                   & F.col(vec_col).isNotNull())
          .select(F.col(label_col).alias("lbl"),
                  F.posexplode(F.col(vec_col)).alias("dim", "x"))
          .select("lbl", "dim", F.col("x").cast("double").alias("x")))
    per = (ex.groupBy("lbl", "dim")
           .agg(F.sum(F.col("x").cast("decimal(38,10)")).alias("s"),
                F.count("*").cast("bigint").alias("n")))
    lbl_mean = per.select(
        "lbl", "dim", "n",
        (F.col("s").cast("double") / F.col("n").cast("double"))
        .alias("m"))
    glob = (per.groupBy("dim")
            .agg((F.sum("s").cast("double")
                  / F.sum("n").cast("double")).alias("g")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    d = F.col("m") - F.col("g")
    return (lbl_mean.join(glob, "dim")
            .groupBy(F.col("lbl").alias(label_col))
            .agg(F.max("n").cast("bigint").alias("n_vectors"),
                 fl6(F.sqrt(F.sum((d * d).cast("decimal(38,10)"))
                            .cast("double"))).alias("l2_shift"))
            .orderBy(label_col))


def mutual_knn_rate(embeddings: DataFrame, k: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Mutual-kNN reciprocity of an embedding set: build each vector's
    cosine top-k neighbor list, then measure the fraction of directed
    edges that are reciprocated (q is in n's top-k AND n is in q's). A
    standard embedding-quality / hubness diagnostic: low reciprocity
    means a few hub vectors dominate everyone's neighbor lists (distance
    concentration — the embedding space is degrading for retrieval),
    high reciprocity means neighborhoods are symmetric and kNN-graph
    algorithms (kNN classify q145, SemDeDup q127) behave.

    This is the EXACT all-pairs form: one side broadcast, norms computed
    once per row pre-join, ranking on the 6-rounded cosine with the
    corpus id as tiebreak (the brute_force_topk construction, q31). It is
    meant for a broadcastable sample/IVF cell — at 100 TB you run it per
    ivf_index cell or on a hash-sample (filter ``id % m`` upstream), the
    same exact-within-bucket contract as the ANN ladder's verify stages.
    Returns ONE row: ``(k, n_vectors, n_edges, n_mutual, mutual_rate)``.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = (embeddings
            .where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"))
            # spread the all-pairs scoring across the cluster: a sample
            # small enough to broadcast typically arrives as ONE input
            # split, and the broadcast cross join inherits the left
            # side's parallelism — one tiny 2-column shuffle here buys
            # |defaultParallelism|-way parallelism on the O(n²/m) dots
            # (measured 32.6s → 2.5s at sf0.1 on local[32]). The
            # partition COUNT must be explicit (round 15): a by-column
            # repartition is AQE-coalescable, and a few-MB embedding
            # sample coalesces straight back to ONE partition — the
            # single-task scoring this shuffle exists to prevent
            # (measured: the n² stage re-serialized to one 2.7 s task)
            .repartition(
                embeddings.sparkSession.sparkContext.defaultParallelism,
                F.col("__id"))
            .withColumn("__n", l2_norm("__v"))
            # zero-norm vectors have NO defined cosine to anyone: left
            # in, a degenerate query row still emits k edges chosen
            # purely by the id tiebreak (every candidate NULL cosine),
            # inflating n_edges/mutual_rate with meaningless neighbors
            # (ADVICE r11 #4). Excluded from BOTH sides (q derives from
            # base) and from n_vectors; mirrored in the q246 oracle.
            .where(F.col("__n") > 0))
    q = F.broadcast(base.select(F.col("__id").alias("__qid"),
                                F.col("__v").alias("__qv"),
                                F.col("__n").alias("__qn")))
    cos = F.when((F.col("__n") > 0) & (F.col("__qn") > 0),
                 dot("__v", "__qv") / (F.col("__n") * F.col("__qn")))
    scored = (base.crossJoin(q)
              .where(F.col("__id") != F.col("__qid"))
              .select("__qid", "__id", F.round(cos, 6).alias("__c")))
    w = Window.partitionBy("__qid").orderBy(F.col("__c").desc(),
                                            F.col("__id").asc())
    # materialize the n·k edge list ONCE: it feeds the edge count AND
    # both sides of the reciprocity self-join — without the cut, the
    # O(n²) scoring pass re-executes per consumer (measured 3× at sf0.1)
    edges = (scored.withColumn("__r", F.row_number().over(w))
             .where(F.col("__r") <= k)
             .select("__qid", "__id")
             .localCheckpoint(eager=True))
    rev = edges.select(F.col("__id").alias("__qid"),
                       F.col("__qid").alias("__id"))
    mutual = edges.join(rev, ["__qid", "__id"], "left_semi")
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    nv = base.agg(F.count("*").cast("bigint").alias("n_vectors"))
    ne = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    nm = mutual.agg(F.count("*").cast("bigint").alias("n_mutual"))
    return (nv.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(nm))
            .select(F.lit(k).cast("int").alias("k"),
                    "n_vectors", "n_edges", "n_mutual",
                    F.when(F.col("n_edges") > 0,
                           fl6(F.col("n_mutual").cast("double")
                               / F.col("n_edges").cast("double")))
                    .otherwise(F.lit(0.0)).alias("mutual_rate")))


def embedding_anisotropy(embeddings: DataFrame, vec_col: str = "embedding",
                         dim: int = 64) -> DataFrame:
    """Anisotropy of an embedding set: ‖μ‖² / E‖x‖² — the expected
    cosine between two random vectors is ≈ this ratio (Ethayarajh 2019
    lineage: contextual embedding spaces collapse toward a dominant
    mean direction), so values near 0 mean an isotropic, retrieval-
    friendly space and values near 1 mean cosine scores are dominated
    by the common component (recenter before ANN — the IVF/PQ ladder
    degrades quietly otherwise). The one-pass corpus-level twin of the
    per-label centroid_shift_report.

    Exactness/scale: per-dimension Σx_i folds as DECIMAL(38,10) via one
    posexplode + groupBy over the dim-row frame; Σ‖x‖² folds the
    6-rounded per-row norm-squares as DECIMAL(28,6) in the same pass
    shape (one scan, map-side combined; nothing corpus-wide sorts).
    Returns ONE row: ``(n_vectors, dim, mu_norm_sq, mean_norm_sq,
    anisotropy)``."""
    base = (embeddings.where(F.col(vec_col).isNotNull()
                             & (F.size(F.col(vec_col)) == dim))
            .select(F.col(vec_col).alias("__v")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    ex = base.select(F.posexplode("__v").alias("__d", "__x"))
    per_dim = (ex.groupBy("__d")
               .agg(F.sum(F.col("__x").cast("double")
                          .cast("decimal(38,10)")).alias("s"),
                    F.count("*").cast("bigint").alias("n")))
    mu2 = (per_dim
           .select(((F.col("s").cast("double") / F.col("n").cast("double"))
                    * (F.col("s").cast("double") / F.col("n").cast("double")))
                   .alias("m2"), "n")
           .agg(F.sum(F.col("m2").cast("decimal(28,12)"))
                .cast("double").alias("mu_norm_sq"),
                F.max("n").cast("bigint").alias("n_vectors")))
    nrm2 = base.select(
        fl6(F.aggregate(F.col("__v"), F.lit(0.0),
                        lambda a, x: a + x.cast("double")
                        * x.cast("double"))).cast("decimal(28,6)")
        .alias("__n2"))
    m = nrm2.agg((F.sum("__n2").cast("double")
                  / F.count("*").cast("double")).alias("mean_norm_sq"))
    return (mu2.crossJoin(F.broadcast(m))
            .select("n_vectors", F.lit(dim).cast("int").alias("dim"),
                    fl6(F.col("mu_norm_sq")).alias("mu_norm_sq"),
                    fl6(F.col("mean_norm_sq")).alias("mean_norm_sq"),
                    F.when(F.col("mean_norm_sq") > 0,
                           fl6(F.col("mu_norm_sq")
                               / F.col("mean_norm_sq")))
                    .alias("anisotropy")))


def cosine_threshold_curve(embeddings: DataFrame,
                           thresholds=(0.5, 0.7, 0.8, 0.9, 0.95),
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Semantic-dup threshold calibration curve: for each candidate
    cosine threshold, how many pairs of the (sampled) embedding set
    would be declared near-duplicates, and what fraction of all pairs
    is that? THE tuning input for SemDeDup (q127) and the embedding
    near-dup banding (q60): a threshold that captures 30% of random
    pairs is deleting topics, not duplicates; the curve makes the knee
    visible before a dedup run commits to it.

    Same exact-within-broadcastable-sample contract as
    :func:`mutual_knn_rate` (all-pairs ON PURPOSE over the caller's
    hash-sample; per IVF cell at 100 TB): unordered pairs i < j scored
    once, 6-rounded cosines, one aggregation over the |thresholds|-row
    literal frame — counts are exact BIGINTs. Returns
    ``(threshold, n_pairs_ge, n_pairs_total, share)`` ordered by
    threshold."""
    base = (embeddings
            .where(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(vec_col).alias("__v"))
            .repartition(F.col("__id"))
            .withColumn("__n", l2_norm("__v")))
    q = F.broadcast(base.select(F.col("__id").alias("__qid"),
                                F.col("__v").alias("__qv"),
                                F.col("__n").alias("__qn")))
    cos = F.when((F.col("__n") > 0) & (F.col("__qn") > 0),
                 dot("__v", "__qv") / (F.col("__n") * F.col("__qn")))
    scored = (base.crossJoin(q)
              .where(F.col("__id") < F.col("__qid"))
              .select(F.round(cos, 6).alias("__c")))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    agg = scored.agg(
        F.count("*").cast("bigint").alias("n_pairs_total"),
        *[F.sum(F.when(F.col("__c") >= F.lit(float(t)), 1).otherwise(0))
          .cast("bigint").alias(f"__ge_{i}")
          for i, t in enumerate(thresholds)])
    rows = F.explode(F.array(*[
        F.struct(F.lit(float(t)).alias("threshold"),
                 F.col(f"__ge_{i}").alias("n_pairs_ge"))
        for i, t in enumerate(thresholds)]))
    return (agg.select(rows.alias("r"), "n_pairs_total")
            .select(F.col("r.threshold").alias("threshold"),
                    F.col("r.n_pairs_ge").alias("n_pairs_ge"),
                    "n_pairs_total",
                    F.when(F.col("n_pairs_total") > 0,
                           fl6(F.col("r.n_pairs_ge").cast("double")
                               / F.col("n_pairs_total").cast("double")))
                    .otherwise(F.lit(0.0)).alias("share"))
            .orderBy("threshold"))
