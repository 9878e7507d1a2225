"""Graph analytics over edge DataFrames — iterative algorithms expressed
as statically-unrolled join/aggregate rounds, the Spark-idiomatic shape
for a bounded iteration count: every round is one shuffle on the edge
source key, Catalyst sees the whole unrolled plan, and AQE sizes each
round's exchanges independently. The reference has no graph surface
(its pipeline is single-table ETL); this module exists for the
north-star pipeline ops — duplicate-cluster analysis (dedup_clusters in
operators/dedup.py holds the connected-components twin) and
entity-importance ranking over interaction graphs.

At 100 TB the per-round cost is one hash-partitioned join of the rank
vector (|V| rows) against the edge list (|E| rows) plus a groupBy on the
destination — no driver collect, no broadcast of anything graph-sized.
A persisted/checkpointed rank vector bounds lineage growth; iteration
counts here are small fixed constants (ranking quality plateaus in a few
rounds on bounded-diameter interaction graphs), which is what makes the
static unroll the right call versus a driver-side convergence loop.

``localCheckpoint`` caveat at cluster scale (VERDICT r15 #5): an eager
localCheckpoint truncates lineage by storing NON-REPLICATED
executor-local blocks — on a real cluster, losing an executor mid-job
makes the checkpointed frame unrecoverable (the lineage that could
recompute it is gone), unlike the ``persist()`` it is cheaper than.
That trade is deliberate here: these cuts live INSIDE one bounded
iterative job whose inputs are sources on durable storage — a lost
block fails the job, the caller reruns it from the parquet inputs, and
the rerun costs minutes. For long-lived intermediates that must
survive executor churn (multi-hour pipelines, shared caches), use
``persist(StorageLevel.MEMORY_AND_DISK_2)`` or a reliable
``checkpoint()`` to a replicated store instead.

Small graphs run in one task. Every iterative operator here pays
~1.2-1.7 s of fixed cost per distributed round at small scale (AQE
stage-job submissions, per-round plan analysis, checkpoint barriers —
q184: ~0.15 s of task time inside a 1.6 s round). So each operator
materializes its edge list, counts it exactly, and asks :func:`_small`
— the one decision, read from the one knob
``$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS`` — whether to run its exact
single-task twin instead (union-find / in-memory peeling / integer
iteration). Three helpers carry every twin:

* :func:`_small` — the edge-count decision;
* :func:`_single_task` — the one ``mapInPandas`` task: it gathers the
  two endpoint columns, factorizes them to dense node indices and calls
  the operator's kernel;
* :func:`_eager` — the eager ``localCheckpoint`` of a twin's result,
  and the one channel for contract errors raised inside a kernel: Spark
  delivers a Python worker's exception to the driver only as text, so a
  kernel raises the contract error :func:`_tagged` (its class name
  between sentinel tokens) and :func:`_eager` re-raises that class with
  the same message. Each contract message is written once and shared by
  the kernel and the distributed path.

Results are bit-identical (integer/decimal-exact arithmetic;
shortest-repr HALF_UP rounding twins). The distributed forms remain the
scale path and stay oracle-verified by the parity sweep run with the
knob at 0, plus the fast ≡ distributed pins in
tests/test_graph_small_path.py. Edges with a null endpoint are dropped
by every operator before either form sees them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Default edge-count line at/below which the iterative operators run
#: their single-task exact form instead of the unrolled distributed
#: rounds. The decision reads the EXACT row count of the materialized
#: edge frame each operator already computes, not a Catalyst estimate:
#: join/window-built edge lineages estimate 5-6 orders of magnitude
#: high (q135's edge frame estimates 1.1 TB against a true 587k rows).
#: A ≤2M-row edge list is a few tens of MB of narrow pairs — data one
#: ordinary task handles — while the distributed rounds pay ~1.2-1.7 s
#: of pure per-round fixed cost (q184: 6 rounds × 1.6 s wall against
#: ~0.15 s of task time per round). ``$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS``
#: overrides it for every operator at once and is the only selector;
#: 0 pins every distributed form (the parity sweep over the distributed
#: forms and the fast ≡ distributed pins set it).
GRAPH_SMALL_MAX_ROWS = 2_000_000

#: int64 headroom guard for the fast paths' scaled-integer decimal
#: accumulation (pagerank: contributions are exact 1e-12-scaled ints;
#: a sum over E edges must stay under 2^63): edge counts past this are
#: refused the fast path regardless of the configured threshold.
_FAST_PATH_HARD_MAX_ROWS = 8_000_000

#: Sentinel around a kernel's contract error in the text Spark hands
#: back from the Python worker: ``<tag>ClassName<tag>message<tag>``.
_TAG = "~graph-contract~"
_CONTRACTS = {c.__name__: c for c in (ValueError, RuntimeError)}


def _small(n: int) -> bool:
    """True when an edge list of exactly ``n`` rows takes the
    single-task form: ``0 < n <=`` the line set by
    ``$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS`` (default
    :data:`GRAPH_SMALL_MAX_ROWS`), never past
    :data:`_FAST_PATH_HARD_MAX_ROWS`."""
    raw = os.environ.get("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS")
    try:
        line = GRAPH_SMALL_MAX_ROWS if raw is None else int(raw)
    except ValueError:
        raise ValueError(
            f"$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS={raw!r} is not an "
            "integer; set a row count (0 disables every graph fast "
            "path) or unset it for the default "
            f"({GRAPH_SMALL_MAX_ROWS})") from None
    return 0 < n <= min(line, _FAST_PATH_HARD_MAX_ROWS)


def _single_task(e: DataFrame, kernel, schema: str) -> DataFrame:
    """Run ``kernel(nodes, a_i, b_i)`` over ALL of the two-column edge
    frame ``e`` in one task; the pandas frame it returns is the result,
    typed by ``schema``. ``nodes`` holds the ascending-unique ids of
    both columns and ``a_i``/``b_i`` each edge's int64 endpoint indices
    into it (:func:`_factorize`). ``e`` is a small materialized frame,
    so ``coalesce(1)`` is a narrow read of its cached blocks — no
    shuffle, one Arrow hand-off, one job."""
    a, b = e.columns

    def fn(batches):
        import pandas as pd

        pdf = pd.concat(batches, ignore_index=True)
        nodes, inv = _factorize(pdf[a].to_numpy(), pdf[b].to_numpy())
        yield kernel(nodes, inv[:len(pdf)], inv[len(pdf):])

    return e.coalesce(1).mapInPandas(fn, schema)


def _tagged(ex: Exception) -> Exception:
    """The in-kernel form of contract error ``ex``: same class, its
    text wrapped in :data:`_TAG` tokens for :func:`_eager` to read."""
    return type(ex)(f"{_TAG}{type(ex).__name__}{_TAG}{ex}{_TAG}")


def _eager(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``: a twin's result computed at
    call time, so a kernel's :func:`_tagged` contract error surfaces
    here, re-raised as its own class and message."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception as ex:
        parts = str(ex).split(_TAG)
        if len(parts) < 4 or parts[1] not in _CONTRACTS:
            raise
        raise _CONTRACTS[parts[1]](parts[2]) from None


def _factorize(*arrays):
    """Sorted factorization of node-id arrays: ``(nodes, inv)`` with
    ``nodes`` the ascending-unique values of the concatenation and
    ``inv`` int64 per-element indices — exactly what
    ``np.unique(concat, return_inverse=True)`` returns, built instead
    with pandas' hash-based ``factorize`` plus one unique-sized argsort
    (VERDICT r15 #7: the np.unique argsort over 2E elements dominated
    the single-task graph twins — hash factorization is O(E) and the
    sort then touches only the |V| uniques). Ordering identity: numpy
    sorts numerics numerically and strings by code point, both equal
    to the comparison ``np.argsort`` applies to the unique values, so
    the (nodes, inv) pair is bit-identical to the np.unique form."""
    import numpy as np
    import pandas as pd

    allv = np.concatenate(arrays)
    if len(allv) == 0:
        return np.unique(allv, return_inverse=True)
    codes, uniq = pd.factorize(allv)
    uniq = np.asarray(uniq)
    order = np.argsort(uniq, kind="stable")
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order), dtype=np.int64)
    return uniq[order], rank[codes]


def _quantize_scaled_int(x, digits: int):
    """Vectorized twin of the per-element
    ``Decimal(repr(v)).quantize(10^-digits, HALF_UP)`` scaled to int64
    (ADVICE r15 medium: the Decimal loops cost ~2.7 µs/node/round).
    Float fast path: scale, split at the .5 boundary — with a Decimal
    FALLBACK for every element whose scaled fraction sits inside the
    error band of the float computation (|x·10^d| · 8·2⁻⁵² + 1e-9
    covers repr's half-ulp decimalization plus the multiply rounding),
    for negatives (float floor+0.5 is HALF-UP-toward-+inf, Decimal
    HALF_UP is away-from-zero), and for magnitudes past 2⁵³ where the
    float path loses integer exactness. Inputs here are pagerank
    ranks/contributions (non-negative, ≤ ~1), so the fallback fires on
    ~1% boundary cases — but the mask makes the twin exact for ANY
    input, not just the expected range."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    x = np.asarray(x, dtype=np.float64)
    s = x * (10.0 ** digits)
    f = np.floor(s)
    frac = s - f
    n = np.where(frac >= 0.5, f + 1.0, f)
    tol = np.abs(s) * 1.8e-15 + 1e-9
    risky = (np.abs(frac - 0.5) <= tol) | (x < 0) | (np.abs(s) >= 2.0 ** 53)
    out = n.astype(np.int64)
    if risky.any():
        q = Decimal(1).scaleb(-digits)
        for i in np.flatnonzero(risky):
            out[i] = int(Decimal(repr(float(x[i])))
                         .quantize(q, ROUND_HALF_UP).scaleb(digits))
    return out


def _round_half_up(x: float, digits: int) -> float:
    """Python twin of Spark's ``round(double, d)`` / double→decimal
    cast semantics: shortest-repr decimalization (JVM
    ``BigDecimal.valueOf`` = ``Double.toString``; Python ``repr`` is
    the same shortest round-trip digits) then HALF_UP at ``digits`` —
    the identity the replay-model suites already pin (tests/_hyp
    fuzz round 14: shortest-repr HALF_UP, not banker's rounding)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x)))
                 .quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def symmetrize(edges: DataFrame, src: str = "src",
               dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: both orientations,
    distinct. PageRank on a symmetrized graph has no dangling nodes
    (every node with an in-edge has an out-edge), which removes the
    dangling-mass redistribution term from the update."""
    return (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .unionByName(edges.select(F.col(dst).alias("src"),
                                      F.col(src).alias("dst")))
            .distinct())


def _pagerank_single_task(e: DataFrame, iterations: int,
                          damping: float) -> DataFrame:
    """Single-task exact PageRank twin of the distributed unroll: the
    SAME arithmetic, step for step — 6-rounded r₀, per-node double
    division by out-degree, HALF_UP quantization to 12 decimals
    (Spark's double→decimal(28,12) cast), EXACT scaled-integer
    accumulation (the decimal fold, as int64 multiples of 1e-12 —
    guarded against int64 overflow by :data:`_FAST_PATH_HARD_MAX_ROWS`),
    correctly-rounded back to double, damped, re-rounded to 6. Every
    intermediate matches the distributed vector bit for bit, so the
    whole trajectory does (pinned by tests/test_graph_small_path.py).
    Like the distributed form, only nodes receiving an in-contribution
    in the final round appear in the output."""
    typ = e.schema["src"].dataType.simpleString()
    base_lit = round(1.0 - damping, 6)

    def kernel(nodes, src_i, dst_i):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        q6 = Decimal("1E-6")
        q12 = Decimal("1E-12")
        n = len(nodes)
        outdeg = np.bincount(src_i, minlength=n)
        if (outdeg == 0).any():
            raise _tagged(_dangling())
        r0 = float(Decimal(repr(1.0 / n)).quantize(q6, ROUND_HALF_UP))
        base = float(Decimal(repr(base_lit / n))
                     .quantize(q12, ROUND_HALF_UP))
        rank = np.full(n, r0)
        has = np.ones(n, bool)
        for _ in range(iterations):
            # vectorized twins of the old per-node Decimal loops
            # (ADVICE r15 medium) — _quantize_scaled_int falls back to
            # Decimal on boundary/overflow elements, so every value is
            # still the exact Decimal(repr(·)).quantize(·, HALF_UP)
            ratio = rank / outdeg
            c_int = np.zeros(n, np.int64)
            idx = np.flatnonzero(has)
            c_int[idx] = _quantize_scaled_int(ratio[idx], 12)
            emask = has[src_i]
            acc = np.zeros(n, np.int64)
            np.add.at(acc, dst_i[emask], c_int[src_i[emask]])
            received = np.zeros(n, bool)
            received[dst_i[emask]] = True
            new_rank = np.zeros(n)
            ridx = np.flatnonzero(received)
            # acc < 2^53 ⇒ the int64→double conversion is exact and the
            # /1e12 (exact divisor) is the correctly-rounded quotient —
            # identical to float(Decimal(acc).scaleb(-12)); past 2^53
            # (unreachable: Σ contributions ≤ ~1·1e12) fall back
            big = np.abs(acc[ridx]) >= 2 ** 53
            in_f = acc[ridx].astype(np.float64) / 1e12
            if big.any():
                for j in np.flatnonzero(big):
                    in_f[j] = float(Decimal(int(acc[ridx[j]])).scaleb(-12))
            new_int = _quantize_scaled_int(base + damping * in_f, 6)
            new_rank[ridx] = new_int.astype(np.float64) / 1e6
            rank, has = new_rank, received
        keep = np.flatnonzero(has)
        return pd.DataFrame({"node": nodes[keep], "rank": rank[keep]})

    return _single_task(e, kernel, f"node {typ}, rank double")


def _dangling() -> ValueError:
    """pagerank's contract: every node has an out-edge."""
    return ValueError(
        "graph has nodes without out-edges; symmetrize() the edge list "
        "or drop dangling nodes before pagerank()")


def pagerank(edges: DataFrame, iterations: int = 3,
             damping: float = 0.85, src: str = "src",
             dst: str = "dst") -> DataFrame:
    """PageRank with a FIXED iteration count, statically unrolled:
    ``r₀(v) = 1/N``; ``r_{k+1}(v) = (1−d)/N + d·Σ_{u→v} r_k(u)/outdeg(u)``.

    Every node must have at least one out-edge (use :func:`symmetrize`
    first, or pre-drop dangling nodes) — asserted at call time, not
    silently mis-ranked. Edges with a null endpoint are dropped.

    Each iteration is one equi-join of the (node, rank) vector with the
    edge list on the source key followed by a groupBy on the destination
    — the rank vector is hash-partitioned by node, so consecutive rounds
    reuse the partitioning. Cross-engine parity: per-node contributions
    are plain-double divisions of the 6-rounded previous rank by the
    integer out-degree, folded in decimal(28,12) (partition-order
    independent), damped, and re-rounded to 6 — every iteration's vector
    is bit-identical across engines, so the fixpoint trajectory is too.
    The rank vector localCheckpoints every few rounds (deep loops
    only) to bound lineage; shallow unrolls run as one pipelined job.

    Small graphs (:func:`_small` on the materialized edge count) run
    the whole trajectory as ONE single-task job
    (:func:`_pagerank_single_task`, bit-identical per iteration — the
    parity design above is exactly what makes a cross-engine twin
    possible); larger ones run the distributed unroll below."""
    if iterations < 1:
        raise ValueError("pagerank needs at least 1 iteration")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .localCheckpoint(eager=True))
    # The fast path skips the driver-side dangling guard: its kernel
    # runs the same check, and _eager surfaces it at call time — so the
    # two guard jobs (nodes distinct + anti-join, ~0.6 s at sf0.1)
    # would be pure duplication. The distributed branch keeps the
    # plan-build guard (its unrolled joins cannot check in flight).
    if _small(e.count()):
        return _eager(_pagerank_single_task(e, iterations, damping))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    if (nodes.join(deg.withColumnRenamed("src", "node"), "node",
                   "left_anti").limit(1).count()):
        raise _dangling()
    n_nodes = nodes.select(F.count("*").alias("__n"))
    # 1−d as the 6-rounded literal, NOT the raw float subtraction:
    # Python's 1.0−0.85 and a SQL engine's CAST(0.15 AS DOUBLE) are
    # different doubles; round(·, 6) lands both on the same bits
    base = F.round(F.lit(round(1.0 - damping, 6)) / F.col("__n"), 12)
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), 6).alias("rank"))
    # Checkpoint PERIODICALLY, not per round: an eager localCheckpoint
    # is a synchronous job, so per-iteration checkpointing serializes
    # k+1 jobs and pays per-stage task overhead k+1 times (measured
    # ~3× wall at sf0.1 for 3 iterations — SCALE.md round-8c triage).
    # A shallow unroll (≤ checkpoint_every rounds) stays ONE pipelined
    # job that AQE coalesces end to end; only deep loops need the
    # lineage cut, and they get it every checkpoint_every rounds.
    checkpoint_every = 5
    for i in range(iterations):
        contrib = (e.join(ranks.withColumnRenamed("node", "src"), "src")
                   .join(deg, "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("rank") / F.col("outdeg"))
                           .cast("decimal(28,12)").alias("c")))
        summed = contrib.groupBy("node").agg(
            F.sum("c").cast("double").alias("__in"))
        ranks = (summed.crossJoin(F.broadcast(n_nodes))
                 .select("node",
                         F.round(base + damping * F.col("__in"), 6)
                         .alias("rank")))
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # e is localCheckpointed (it doubles as the fast-path row-count
    # read), so the lazy iterations re-read its materialized
    # partitions; Spark drops them with the session.
    return ranks


def _triangle_single_task(e: DataFrame) -> DataFrame:
    """Single-task exact twin of the distributed triangle count over a
    small materialized canonical edge frame: same (deg, id) orientation
    (so the enumeration stays O(E^1.5) bounded), wedge→edge membership
    via sorted int64 keys, all-integer counts, and the identical
    round-6 clustering arithmetic. Wedge enumeration flushes in chunks
    so memory stays bounded even on adversarially dense inputs."""

    def kernel(nodes, u_i, v_i):
        import numpy as np
        import pandas as pd

        n = len(nodes)
        m = len(u_i)
        deg = np.bincount(u_i, minlength=n) + np.bincount(v_i, minlength=n)
        n_wedges = int(sum(int(d) * (int(d) - 1) // 2 for d in deg))
        # orient each edge from its (deg, id)-smaller endpoint; with
        # factorized ids, index order ≡ id order, so the struct key
        # (deg, id) maps to the int64 composite deg*n + idx exactly
        ok = deg.astype(np.int64) * n + np.arange(n, dtype=np.int64)
        swap = ok[u_i] > ok[v_i]
        a = np.where(swap, v_i, u_i).astype(np.int64)
        b = np.where(swap, u_i, v_i).astype(np.int64)
        edge_keys = np.sort(a * n + b)
        order = np.lexsort((ok[b], a))
        a_s, b_s = a[order], b[order]
        starts = np.flatnonzero(np.r_[True, a_s[1:] != a_s[:-1]])
        ends = np.r_[starts[1:], m]
        tri = 0
        chunk: list = []
        chunk_rows = 0

        def flush(chunk, tri):
            if not chunk:
                return tri
            w = np.concatenate(chunk)
            # membership of each wedge key in the sorted oriented edge
            # keys: insertion point + exact-match check
            idx = np.searchsorted(edge_keys, w)
            valid = idx < len(edge_keys)
            return tri + int((edge_keys[idx[valid]] == w[valid]).sum())

        for s, t in zip(starts, ends):
            nb = b_s[s:t]
            d = len(nb)
            if d < 2:
                continue
            ix, iy = np.triu_indices(d, 1)
            chunk.append(nb[ix] * n + nb[iy])
            chunk_rows += len(ix)
            if chunk_rows >= 4_000_000:
                tri = flush(chunk, tri)
                chunk, chunk_rows = [], 0
        tri = flush(chunk, tri)
        if n_wedges > 0:
            gc = _round_half_up(3.0 * tri / n_wedges, 6)
        else:
            gc = 0.0
        return pd.DataFrame({"n_nodes": np.array([n], np.int64),
                             "n_edges": np.array([m], np.int64),
                             "n_wedges": np.array([n_wedges], np.int64),
                             "n_triangles": np.array([tri], np.int64),
                             "global_clustering": [gc]})

    return _single_task(
        e, kernel, "n_nodes bigint, n_edges bigint, n_wedges bigint, "
                   "n_triangles bigint, global_clustering double")


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient — the
    second classic distributed-graph workload beside :func:`pagerank`,
    and the canonical example of a join whose COST is controlled by an
    algorithmic rewrite rather than the optimizer: counting wedges on
    the raw adjacency costs Σ_v C(deg_v, 2), which a hub node makes
    quadratic; ORIENTING each edge from its (degree, id)-smaller
    endpoint to the larger one (Chiba–Nishizeki / the MapReduce
    node-iterator++ of Suri & Vassilvitskii 2011) caps every
    out-degree at O(√|E|), so the wedge self-join materializes at most
    |E|^1.5 rows no matter how skewed the degree distribution is.

    Pipeline (all equi-joins, no inequality shapes): canonicalize to
    undirected distinct edges; compute true degrees; orient by the
    lexicographic STRUCT key ``(deg, id)`` — a native struct
    comparison, total for any id type/range (negative, ≥10⁹, or
    non-integer ids all order correctly; the earlier arithmetic
    ``deg·10⁹+id`` composite silently collided above 10⁹);
    wedge = self-join of oriented edges on their source; close the
    wedge with one more equi-join against the oriented edge list
    (each triangle {x<y<z} in orientation order is counted exactly
    once, at its lowest-degree corner). Returns one row:
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_clustering)``
    with clustering = 3·T / Σ C(deg,2) on TRUE degrees (rounded 6).
    Small graphs (:func:`_small`) run :func:`_triangle_single_task`."""
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    e = (edges.select(u, v)
         .where(F.col("u") != F.col("v")).distinct().persist())
    if _small(e.count()):
        out = _eager(_triangle_single_task(e))
        e.unpersist()
        return out
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count("*").alias("deg")))
    okey = F.struct(F.col("deg").cast("bigint").alias("d"),
                    F.col("n").alias("i"))
    keyed = deg.select("n", okey.alias("ok"))
    withk = (e.join(keyed.select(F.col("n").alias("u"),
                                 F.col("ok").alias("ok_u")), "u")
             .join(keyed.select(F.col("n").alias("v"),
                                F.col("ok").alias("ok_v")), "v"))
    o = withk.select(
        F.when(F.col("ok_u") < F.col("ok_v"), F.col("u"))
        .otherwise(F.col("v")).alias("a"),
        F.when(F.col("ok_u") < F.col("ok_v"), F.col("v"))
        .otherwise(F.col("u")).alias("b"),
        F.when(F.col("ok_u") < F.col("ok_v"), F.col("ok_v"))
        .otherwise(F.col("ok_u")).alias("ok_b")).persist()
    w1 = o.select(F.col("a"), F.col("b").alias("x"),
                  F.col("ok_b").alias("ok_x"))
    w2 = o.select(F.col("a"), F.col("b").alias("y"),
                  F.col("ok_b").alias("ok_y"))
    wedges = (w1.join(w2, "a")
              .where(F.col("ok_x") < F.col("ok_y"))
              .select(F.col("x").alias("wa"), F.col("y").alias("wb")))
    tri = (wedges.join(o.select(F.col("a").alias("wa"),
                                F.col("b").alias("wb")), ["wa", "wb"])
           .agg(F.count("*").cast("bigint").alias("n_triangles")))
    stats = (deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        # deg·(deg−1) is even → shiftright 1 is an EXACT integer /2
        # (the old double division loses exactness past deg ~9e7);
        # accumulate in decimal(38,0) — a BIGINT wedge sum overflows
        # with a handful of 1e9-degree hubs (VERDICT r10 #4 audit).
        # Per-term bound: deg < ~3e9 before the bigint product wraps.
        F.sum(F.shiftright(F.col("deg") * (F.col("deg") - 1), 1)
              .cast("decimal(38,0)"))
        .cast("bigint").alias("n_wedges")))
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    out = (tri.crossJoin(F.broadcast(stats))
           .crossJoin(F.broadcast(n_edges))
           .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                   F.round(F.when(F.col("n_wedges") > 0,
                                  F.lit(3.0) * F.col("n_triangles")
                                  / F.col("n_wedges"))
                           .otherwise(F.lit(0.0)), 6)
                   .alias("global_clustering")))
    out = out.localCheckpoint(eager=True)
    e.unpersist(); o.unpersist()
    return out


def _cc_canonical(edges: DataFrame, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Canonical undirected distinct edge set for star contraction.
    Self-loop (u,u) rows SURVIVE this canonicalization (least = greatest
    = u) and are eliminated by the first large-star half-round's
    ``v > u`` orientation; self-loop-only nodes then reappear as
    singletons from the nodes frame — see :func:`connected_components`
    and the self-loop pytest."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    return (e.select(F.least("u", "v").alias("u"),
                     F.greatest("u", "v").alias("v"))
            .distinct())


def _cc_large_star(d: DataFrame) -> DataFrame:
    """One large-star half-round: every node points its LARGER
    neighbors at the minimum of its closed neighborhood. One
    groupBy(min) + one equi-join on the node id."""
    sym = d.union(d.select(F.col("v").alias("u"),
                           F.col("u").alias("v")))
    mn = (sym.groupBy("u")
          .agg(F.least(F.min("v"), F.first("u")).alias("m")))
    out = (sym.join(mn, "u")
           .where(F.col("v") > F.col("u"))
           .select(F.col("v").alias("u"), F.col("m").alias("v")))
    return (out.select(F.least("u", "v").alias("u"),
                       F.greatest("u", "v").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _cc_small_star(d: DataFrame) -> DataFrame:
    """One small-star half-round: orient high -> low; each high node
    re-hangs itself and all its low neighbors from its minimum low
    neighbor."""
    hi = d.select(F.greatest("u", "v").alias("u"),
                  F.least("u", "v").alias("v"))
    mn = hi.groupBy("u").agg(F.min("v").alias("m"))
    out = (hi.join(mn, "u")
           .select(F.col("v").alias("a"), F.col("m").alias("b"))
           .union(mn.select(F.col("u").alias("a"),
                            F.col("m").alias("b"))))
    return (out.select(F.least("a", "b").alias("u"),
                       F.greatest("a", "b").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _cc_union_find(e: DataFrame) -> DataFrame:
    """Single-task exact connected components over a small materialized
    canonical edge frame: label = component minimum — the same labeling
    the star-contraction fixpoint provably produces, in one in-memory
    pass instead of ~log(n) distributed rounds of ~1.5 s fixed cost
    each. Self-loop rows register their node as a singleton, matching
    ``_cc_canonical``'s contract.

    Round 16 (VERDICT r15 #7 class): the per-edge Python dict
    union-find became vectorized min-label hooking with full
    pointer-jumping compression — each round every node takes the
    minimum label over its closed neighborhood, then labels compress
    through themselves until stable; O(log n) rounds of O(E) C-level
    numpy work replaces ~1 µs/edge of interpreter time. Exactness:
    labels never increase, an edge at the fixpoint joins equal labels
    (so each component is constant), and identity initialization only
    propagates indices belonging to the component — the constant is
    the component's minimum index, which (nodes sorted ascending) is
    its minimum value: the identical labeling, pinned by
    tests/test_graph_small_path.py."""
    typ = e.schema["u"].dataType.simpleString()

    def kernel(nodes, u_i, v_i):
        import numpy as np
        import pandas as pd

        n = len(nodes)
        lab = np.arange(n, dtype=np.int64)
        while True:
            new = lab.copy()
            np.minimum.at(new, u_i, lab[v_i])
            np.minimum.at(new, v_i, lab[u_i])
            while True:  # full path compression
                nn = new[new]
                if np.array_equal(nn, new):
                    break
                new = nn
            if np.array_equal(new, lab):
                break
            lab = new
        return pd.DataFrame({"node": nodes, "label": nodes[lab]})

    return _single_task(e, kernel, f"node {typ}, label {typ}")


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round labeling that completes the graph
    trio beside :func:`pagerank` and :func:`triangle_count`, and the
    scale path past :func:`~powerdatapipeline_spark.operators.dedup.
    dedup_clusters`'s min-label flood: that operator converges in
    diameter(G) rounds (right for shallow near-dup clusters, wrong for
    chains — a customer's 30-order purchase chain needs 30 floods),
    while star contraction halves every path each round, so even a
    10⁹-node path graph labels in ~30 rounds.

    large-star: every node points its LARGER neighbors at the minimum
    of its closed neighborhood; small-star: every node and its smaller
    neighbors re-hang from that minimum. Each half-round is one
    groupBy(min) + one equi-join (two shuffles keyed by node id — no
    inequality joins, the skewed hub's neighborhood reduces map-side);
    lineage is cut per round with an eager localCheckpoint and
    convergence is an exact edge-set checksum (count + SUM of xxhash64
    edge hashes accumulated in decimal(38,0) — order-free and
    overflow-free under ANSI mode), with ``max_iter`` exhaustion RAISING rather
    than returning a partial labeling. Returns ``(node, label)`` for
    every node incident to an edge, labeled by its component's minimum
    id (self-loops contribute their node; fully isolated nodes never
    appear in ``edges`` and are the caller's singletons, same contract
    as dedup_clusters).

    Small graphs (:func:`_small` on the canonical edge count, already
    computed here for the convergence checksum) label in ONE
    single-task union-find (:func:`_cc_union_find`) instead of ~log(n)
    checkpointed rounds; identical labels (component minimum), pinned
    by tests/test_graph_small_path.py. ``max_iter`` applies to the
    distributed rounds only — union-find always converges exactly and
    has no round budget to exhaust. The result stays lazy."""
    e = _cc_canonical(edges, src, dst).localCheckpoint(eager=True)

    def checksum(d: DataFrame):
        # Accumulate in decimal(38,0): a BIGINT sum of n uniform int64
        # hashes overflows with probability → 1 as n grows (ANSI-on
        # Spark raises ARITHMETIC_OVERFLOW; ANSI-off silently wraps —
        # VERDICT r10 #1). decimal(38,0) is overflow-free to ~1e19 rows.
        r = d.agg(F.count("*").alias("n"),
                  F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                  .alias("h")).collect()[0]
        return (r["n"], r["h"])

    sig = checksum(e)
    if _small(sig[0]):
        return _cc_union_find(e)

    large_star, small_star = _cc_large_star, _cc_small_star
    nodes = (e.select(F.col("u").alias("node"))
             .union(e.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=True))
    cur = e
    converged = sig[0] == 0
    # per-round cost at small SF is stage-LAUNCH latency (4 shuffles/
    # round × ~6 rounds), not task counts: a row-count-gated coalesce
    # of the round frames was measured a no-op (round 12), so rounds
    # are left at their natural shuffle width
    for _ in range(max_iter):
        if converged:
            break
        stepped = small_star(large_star(cur)).localCheckpoint(eager=True)
        nsig = checksum(stepped)
        cur = stepped
        if nsig == sig:
            converged = True
            break
        sig = nsig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} alternation rounds; raise max_iter — "
            "returning partial star edges would split components silently")
    # fixpoint edges are (root, leaf) stars with root = component min
    labels = (cur.select(F.col("v").alias("node"),
                         F.col("u").alias("label"))
              .union(cur.select(F.col("u").alias("node"),
                                F.col("u").alias("label")))
              .groupBy("node").agg(F.min("label").alias("label")))
    return (nodes.join(labels, "node", "left")
            .select("node", F.coalesce(F.col("label"), F.col("node"))
                    .alias("label")))


def _kcore_single_task(e: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """Single-task exact twin of the distributed k-core peel: the SAME
    synchronous rounds (all sub-k nodes removed together per round),
    the SAME convergence rule (edge-count fixpoint) and the SAME
    ``max_rounds`` exhaustion raise — integer-only work, so the twin is
    trivially bit-identical (pinned by tests/test_graph_small_path.py,
    including the round-budget raise)."""
    typ = e.schema["u"].dataType.simpleString()

    def kernel(nodes, u_i, v_i):
        import numpy as np
        import pandas as pd

        n = len(nodes)
        alive = np.ones(len(u_i), bool)
        prev = len(u_i)
        converged = prev == 0
        for _ in range(max_rounds):
            if converged:
                break
            deg = (np.bincount(u_i[alive], minlength=n)
                   + np.bincount(v_i[alive], minlength=n))
            keep = deg >= k
            alive = alive & keep[u_i] & keep[v_i]
            cur = int(alive.sum())
            if cur == prev:
                converged = True
                break
            prev = cur
        if not converged:
            raise _tagged(_kcore_budget(k, max_rounds))
        deg = (np.bincount(u_i[alive], minlength=n)
               + np.bincount(v_i[alive], minlength=n))
        keep = np.flatnonzero(deg >= k)
        return pd.DataFrame({"node": nodes[keep],
                             "core_degree": deg[keep].astype(np.int64)})

    return _single_task(e, kernel, f"node {typ}, core_degree bigint")


def _kcore_budget(k: int, max_rounds: int) -> RuntimeError:
    """k_core's contract: the peel converges within ``max_rounds``."""
    return RuntimeError(
        f"k_core(k={k}) did not converge within max_rounds={max_rounds} "
        "peel rounds; raise max_rounds — returning an un-peeled "
        "supergraph would report non-core nodes as core")


def k_core(edges: DataFrame, k: int = 2, src: str = "src",
           dst: str = "dst", max_rounds: int = 12) -> DataFrame:
    """k-core decomposition by iterative peeling — the density-based
    subgraph extractor that completes the graph family (pagerank =
    importance, components = reachability, triangles = local
    clustering, k-core = GLOBAL cohesion): repeatedly delete every
    node with degree < k until none remains; what survives is the
    maximal subgraph where everyone keeps >= k neighbors, the classic
    spam-farm / tight-community / co-purchase-cluster screen.

    Each peel round is one bidirectional degree count (groupBy node,
    map-side combined) + one semi-join filter on BOTH endpoints — two
    node-keyed shuffles, no inequality joins; lineage cuts per round
    with an eager localCheckpoint and convergence is the exact
    edge-count fixpoint (peeling is monotone decreasing, so equal
    count = identical edge set). Rounds are bounded by the peeling
    depth (the graph's degeneracy ordering length), NOT by node count;
    ``max_rounds`` exhaustion RAISES rather than returning an
    un-peeled supergraph — and the SQL oracle unrolls the same fixed
    round budget, which is sound because converged rounds are no-ops.
    Returns ``(node, core_degree)`` for every k-core member, with its
    degree inside the core. Small graphs (:func:`_small`) peel in
    :func:`_kcore_single_task`, computed at call time so a budget
    exhaustion raises here as on the distributed path."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = _cc_canonical(edges, src, dst).localCheckpoint(eager=True)
    prev0 = e.count()
    if _small(prev0):
        return _eager(_kcore_single_task(e, k, max_rounds))

    def degrees(d: DataFrame) -> DataFrame:
        return (d.select(F.col("u").alias("node"))
                .union(d.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count("*").cast("bigint").alias("deg")))

    prev = prev0
    converged = prev == 0
    for _ in range(max_rounds):
        if converged:
            break
        keep = degrees(e).where(F.col("deg") >= k).select("node")
        e = (e.join(keep.withColumnRenamed("node", "u"), "u", "semi")
             .join(keep.withColumnRenamed("node", "v"), "v", "semi")
             .select("u", "v").localCheckpoint(eager=True))
        cur = e.count()
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise _kcore_budget(k, max_rounds)
    return (degrees(e).where(F.col("deg") >= k)
            .select("node", F.col("deg").alias("core_degree")))


def _hits_single_task(e: DataFrame, rounds: int, top_k: int) -> DataFrame:
    """Single-task exact twin of the distributed HITS iteration: pure
    BIGINT sums (h₀=1 → a₁ = in-degree, alternations are integer edge
    sums), the SAME conservative int64 overflow guard with the SAME
    raise, max-normalization once at the end with the identical
    floor6 double arithmetic. int64 accumulation is safe exactly
    where the distributed form is — that is what the guard bounds."""
    typ = e.schema["v"].dataType.simpleString()

    def kernel(nodes, u_i, v_i):
        import math

        import numpy as np
        import pandas as pd

        n = len(nodes)
        a = np.bincount(v_i, minlength=n).astype(np.int64)  # a₁ = in-deg
        outdeg = np.bincount(u_i, minlength=n)
        err = _hits_overflow(rounds, int(a.max()), int(outdeg.max()))
        if err:
            raise _tagged(err)
        for _ in range(rounds - 1):
            h = np.zeros(n, np.int64)
            np.add.at(h, u_i, a[v_i])
            a = np.zeros(n, np.int64)
            np.add.at(a, v_i, h[u_i])
        # nodes with an authority row = targets of ≥1 edge
        has = np.zeros(n, bool)
        has[v_i] = True
        idx = np.flatnonzero(has)
        mx = float(a[idx].max()) if len(idx) else 0.0
        rows = sorted(((int(a[i]), nodes[i]) for i in idx),
                      key=lambda t: (-t[0], t[1]))[:top_k]
        return pd.DataFrame({
            "node": [nd for _, nd in rows],
            "authority_int": np.array([ai for ai, _ in rows],
                                      dtype=np.int64),
            "authority": [math.floor(float(ai) / mx * 1_000_000.0 + 0.5)
                          / 1_000_000.0 for ai, _ in rows]})

    return _single_task(
        e, kernel, f"node {typ}, authority_int bigint, authority double")


def _hits_overflow(rounds: int, din: int, dout: int) -> ValueError | None:
    """hits_scores' contract, checked before any iteration: scores after
    r authority updates are bounded by Din^r · Dout^(r−1) (h₀=1; each
    authority update multiplies by ≤ Din, each hub update by ≤ Dout).
    The error when that exact Python-bigint bound passes int64, else
    None."""
    if din > 0 and din ** rounds * max(dout, 1) ** (rounds - 1) > 2 ** 63 - 1:
        return ValueError(
            f"hits_scores(rounds={rounds}) worst-case score "
            f"Din^r·Dout^(r-1) = {din}^{rounds}·{dout}^{rounds - 1} "
            "exceeds int64 — note this bound is CONSERVATIVE: it pairs the "
            "global max in-degree and max out-degree even when they belong "
            "to unconnected nodes, so the true max score may be far "
            "smaller (ADVICE r12). Lower rounds (rank order is stable by 2 "
            "on conveying graphs) or use a decimal-fold variant if the "
            "graph's actual structure keeps scores in range")
    return None


def hits_scores(edges: DataFrame, src: str = "src", dst: str = "dst",
                rounds: int = 2, top_k: int = 20) -> DataFrame:
    """HITS hubs & authorities on a bipartite graph (Kleinberg 1999) —
    the mutual-reinforcement ranking PageRank can't express: a part is
    authoritative when ordered by strong hub customers, a customer is
    a strong hub when they order authoritative parts.

    Parity/scale design — EXACT INTEGER iteration: with h₀ = 1, every
    intermediate score a_k/h_k is a BIGINT sum over the edge list
    (h₀=1 → a₁ = in-degree, h₁ = Σ a₁, …), so ``rounds`` alternations
    are exact 64-bit arithmetic in ANY engine and the oracle unrolls
    them as plain SQL joins — normalization happens ONCE at the end
    (score / max, double, floor6), not per round (per-round float
    normalization is where HITS implementations lose cross-engine
    reproducibility). Each half-round is one map-side-combined
    groupBy + one hash equi-join on the edge list — two keyed
    shuffles, same cost model as one PageRank round. ``rounds`` is
    deliberately small: 64-bit headroom bounds it, and that bound is
    ENFORCED, not contractual (VERDICT r11 #6): the worst-case score
    ``Din^rounds · Dout^(rounds−1)`` is checked against 2⁶³−1 before
    any iteration that could overflow mid-job (ANSI raise) or wrap
    silently (ANSI off). The degree job that feeds the check is NOT a
    separate pre-flight pass (VERDICT r12 #2): with h₀ = 1 the first
    authority update IS the in-degree, so one bidirectional degree
    aggregation doubles as iteration 1 — the guard's only extra cost
    over an unguarded run is a tiny agg over the node-sized degree
    frame. Rank ORDER is already stable after 2 alternations on
    conveying graphs.
    Returns the ``top_k`` authorities ``(node, authority_int,
    authority)`` by (score desc, node asc) — exact integer + 6-rounded
    max-normalized double. Small graphs (:func:`_small`) run
    :func:`_hits_single_task`, computed at call time."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull())
         .distinct()
         # materialize the deduped edge list ONCE: the degree job and
         # the remaining iterations both consume it — without the cut,
         # the distinct re-executes per action (measured: q235 2s → 5s
         # when the guard first landed with two uncheckpointed degree
         # jobs)
         .localCheckpoint(eager=True))
    # The fast path skips the driver-side degree job: its kernel
    # computes the degree maxima and runs the same bound check, and
    # _eager surfaces it at call time. The distributed branch keeps the
    # pre-flight (its BIGINT folds cannot check mid-job).
    if _small(e.count()):
        return _eager(_hits_single_task(e, rounds, top_k))
    # Degree frame = overflow guard input AND iteration 1 (VERDICT r12
    # #2): with h₀ = 1 the first authority update is exactly the
    # in-degree, so ONE bidirectional map-side-combined count job
    # yields both degree maxima for the guard and a₁ for the loop —
    # the r12 version paid a separate edge-sized pre-flight pass plus
    # the a₁ join+groupBy here, two edge shuffles this fold removes.
    deg = (e.select(F.col("v").alias("node"), F.lit("i").alias("s"))
           .unionByName(e.select(F.col("u").alias("node"),
                                 F.lit("o").alias("s")))
           .groupBy("s", "node")
           .agg(F.count("*").cast("bigint").alias("d")))
    # deg is read twice (guard maxima now, a₁ in the final job) but NOT
    # checkpointed: it re-derives from the checkpointed edge list with
    # one map-side-combined pass — at sf0.1 the recompute and the extra
    # materialization job time within noise of each other (best-of-5
    # 1.9s either way), so the variant with one fewer job and no
    # executor-storage footprint wins
    row = (deg.agg(F.max(F.when(F.col("s") == "i", F.col("d")))
                   .alias("din"),
                   F.max(F.when(F.col("s") == "o", F.col("d")))
                   .alias("dout"))
           .first())
    err = _hits_overflow(rounds, row["din"] or 0, row["dout"] or 0)
    if err:
        raise err
    # iteration 1 for free: a₁ = in-degree (h₀ = 1)
    a = (deg.where(F.col("s") == "i")
         .select(F.col("node").alias("v"), F.col("d").alias("a")))
    for _ in range(rounds - 1):
        # the final hub update of the LAST round would never be read —
        # only the authority vector is returned (ADVICE r10: two
        # shuffles saved per call), so each remaining round is
        # hub-update then authority-update
        h = (e.join(a, "v")
             .groupBy("u").agg(F.sum("a").cast("bigint").alias("h")))
        a = (e.join(h, "u")
             .groupBy("v").agg(F.sum("h").cast("bigint").alias("a")))
    mx = a.agg(F.max("a").alias("mx"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    return (a.crossJoin(F.broadcast(mx))
            .select(F.col("v").alias("node"),
                    F.col("a").alias("authority_int"),
                    fl6(F.col("a").cast("double")
                        / F.col("mx").cast("double")).alias("authority"))
            .orderBy(F.desc("authority_int"), F.asc("node"))
            .limit(top_k))


def _lpa_single_task(sym: DataFrame, rounds: int, top_k: int) -> DataFrame:
    """Single-task exact twin of the distributed synchronous LPA: the
    SAME deterministic update (most frequent neighbor label, ties to
    the SMALLEST label) over the same symmetrized deduped edge list —
    pure integer counting plus value ordering, so the twin is
    bit-identical. Label order exploits that ``np.unique`` returns
    SORTED nodes: comparing node indices ≡ comparing node values
    (numeric order for numerics; code-point order for strings, which
    equals Spark's UTF8 binary order on valid UTF-8)."""
    typ = sym.schema["a"].dataType.simpleString()

    def kernel(nodes, a_i, b_i):
        import numpy as np
        import pandas as pd

        n = len(nodes)
        lab = np.arange(n, dtype=np.int64)
        for _ in range(rounds):
            key = np.sort(a_i * n + lab[b_i])
            # sorted-run boundaries ≡ np.unique(key, return_counts=True)
            # without the second full pass (the sort is the whole cost)
            starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
            uniq = key[starts]
            cnt = np.diff(np.r_[starts, len(key)])
            ua, ul = uniq // n, uniq % n
            order = np.lexsort((ul, -cnt, ua))
            ua_s, ul_s = ua[order], ul[order]
            first = np.ones(len(ua_s), bool)
            first[1:] = ua_s[1:] != ua_s[:-1]
            # every node appears in `a` (sym carries both directions),
            # so the whole vector is reassigned each round — exactly
            # the distributed groupBy+argmax window
            new_lab = lab.copy()
            new_lab[ua_s[first]] = ul_s[first]
            lab = new_lab
        lv, lc = np.unique(lab, return_counts=True)
        order = np.lexsort((lv, -lc))[:top_k]
        return pd.DataFrame({"label": nodes[lv[order]],
                            "n_nodes": lc[order].astype(np.int64)})

    return _single_task(sym, kernel, f"label {typ}, n_nodes bigint")


def label_propagation(edges: DataFrame, rounds: int = 2,
                      src: str = "src", dst: str = "dst",
                      top_k: int = 25) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) with a DETERMINISTIC update — the density-community
    complement to connected_components (pure reachability) and k_core
    (density threshold): every node starts labeled with itself; each
    round it adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label (the classic async-random LPA is
    nondeterministic; the min-tiebreak synchronous variant is
    reproducible in any engine, which is what an oracle-paired pipeline
    needs). ``rounds`` is small and fixed: labels move one hop per
    round and the oracle unrolls the same rounds as SQL joins.

    Each round = one hash equi-join of the (symmetrized, deduped) edge
    list against the label frame + one (node, label) groupBy + one
    per-node argmax window — three node-keyed shuffles, lineage cut per
    round with an eager localCheckpoint. Returns the ``top_k``
    communities ``(label, n_nodes)`` by (size desc, label asc)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .where(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
         # persist across the self-union's two branches (round 16): a
         # union does NOT share its subtree, so without the cache the
         # caller's whole edge lineage (q253: lineitem⋈orders +
         # distinct) executes TWICE inside the sym materialization.
         # Released right after the eager checkpoint — within-query.
         .persist())
    sym = (e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .distinct().localCheckpoint(eager=True))
    e.unpersist()
    if _small(sym.count()):
        return _lpa_single_task(sym, rounds, top_k)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    # Checkpoint PERIODICALLY, not per round: an eager localCheckpoint
    # is a synchronous job, so per-round checkpointing serializes
    # rounds+1 jobs (the pagerank round-8c lesson — measured 7.3s → 3s
    # at sf0.1 for the 2-round default); shallow unrolls stay ONE
    # pipelined job and only deep loops need the lineage cut.
    checkpoint_every = 5
    for i in range(rounds):
        nbr = (sym.join(labels.withColumnRenamed("node", "b"), "b")
               .groupBy(F.col("a").alias("node"), "label")
               .agg(F.count("*").cast("bigint").alias("__c")))
        w = Window.partitionBy("node").orderBy(F.col("__c").desc(),
                                               F.col("label").asc())
        labels = (nbr.withColumn("__r", F.row_number().over(w))
                  .where(F.col("__r") == 1)
                  .select("node", "label"))
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            labels = labels.localCheckpoint(eager=True)
    return (labels.groupBy("label")
            .agg(F.count("*").cast("bigint").alias("n_nodes"))
            .orderBy(F.desc("n_nodes"), F.asc("label"))
            .limit(top_k))
