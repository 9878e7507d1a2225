"""Deduplication operators (BASELINE.json north star; SURVEY.md §2.12):
exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Scale design:
  * Exact dedup = hash-groupBy on a fingerprint — one shuffle keyed by a
    uniformly-distributed md5, so no skew regardless of document skew.
  * Near-dup NEVER compares all pairs: MinHash signatures are banded (LSH)
    and only documents sharing a band bucket are joined — candidate pairs
    scale with true-duplicate density, not n². The band join shuffles on the
    band hash (uniform); verification runs per candidate pair.
  * SimHash pairs via exact fingerprint-band match on bit-slices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from powerdatapipeline_spark.operators.text import (
    _spread,
    char_ngrams,
    fingerprint,
    minhash_signature,
    shingles,
    simhash64,
)


def _finish(result: DataFrame, cached: DataFrame, materialize: bool) -> DataFrame:
    """Eagerly materialize the (small) pair result via localCheckpoint, then
    release the persisted signature frame — without this every call leaks a
    cached signature DataFrame for the session lifetime. The checkpoint also
    makes repeated consumption of the result free (the driver compares each
    query twice)."""
    if not materialize:
        # lazy variant: full logical plan preserved (plan audits, composing
        # into larger pipelines); caller owns the persisted frame's lifetime
        return result
    out = result.localCheckpoint(eager=True)
    cached.unpersist()
    return out


#: Hyperplane-LSH sizing rule (VERDICT r14 #1 — the round-14 ×100 probe
#: measured fixed 8-bit tables going quadratic, exponent 1.42, vs 0.43
#: occupancy-constant): target expected vectors PER BUCKET per table.
#: n/2^bits ≈ 8 reproduces the probe's measured-good ladder (8 bits at
#: n=2k, 15 bits at n=200k).
EMB_LSH_TARGET_OCCUPANCY = 8
#: Derived-bits clamp: ≥4 keeps tiny corpora from degenerating to
#: all-pairs-in-16-buckets; ≤24 bounds the plane-literal count (and a
#: 2^24-bucket table is already sized for n ≈ 134M vectors per occupancy
#: 8 — beyond that, raise n_tables/occupancy consciously, not by default).
EMB_LSH_MIN_PLANES = 4
EMB_LSH_MAX_PLANES = 24


def derive_n_planes(n_rows: int,
                    target_occupancy: int = EMB_LSH_TARGET_OCCUPANCY,
                    lo: int = EMB_LSH_MIN_PLANES,
                    hi: int = EMB_LSH_MAX_PLANES) -> int:
    """Occupancy-constant hyperplane-LSH bit width: the smallest ``k``
    with ``2^k · target_occupancy ≥ n_rows``, clamped to ``[lo, hi]``.

    INTEGER-EXACT on purpose (ceil-divide + bit_length, never
    ``ceil(log2(x))`` on a float): the DuckDB twin computes the same k as
    ``length(bin(m - 1))`` over ``m = (count + occ - 1) // occ``, and an
    IEEE log at an exact power of two could round the two engines apart.
    This is the q60 oracle's sizing rule — keep both sides in lockstep."""
    m = -(-max(int(n_rows), 1) // target_occupancy)  # ceil(n / occ), ≥ 1
    k = (m - 1).bit_length() if m > 1 else 0
    return max(lo, min(hi, k))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.
    ``groupBy(fingerprint)`` — single uniform-key shuffle; at 100 TB prefer
    this over ``dropDuplicates([text_col])`` because the shuffle key is a
    32-byte digest, not the full document."""
    return (df
            .withColumn("fp", fingerprint(text_col))
            .groupBy("fp")
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        unit: str = "char") -> DataFrame:
    """All-pairs n-gram Jaccard via an inverted index (shingle → doc)
    join — the SQL-expressible baseline for near-dup. Candidate
    generation joins on ``md5(shingle)`` (narrow uniform key, never the
    raw shingle text), so only pairs sharing ≥1 shingle are scored.

    Jaccard computed from distinct-shingle counts:
    ``|A∩B| / (|A| + |B| − |A∩B|)``.

    Cost model (measured, not guessed): the inverted join materializes
    ``Σ_g df(g)²`` rows. With ``unit='char'`` on a small-vocabulary
    corpus nearly every doc pair shares common trigrams — df(g) ≈ N for
    hundreds of grams, i.e. billions of rows by sf0.1 (OOM-confirmed on
    the fixture). ``unit='word'`` shingles are selective (df(g) tracks
    true duplication density) and stay linear-ish in practice. Either
    way this operator is the EXACTNESS BASELINE — use
    :func:`minhash_lsh_pairs` (banded, sub-quadratic by construction) at
    scale."""
    sh_col = (char_ngrams(text_col, n) if unit == "char"
              else shingles(text_col, n, unit="word"))
    sh = (_spread(df).select(F.col(id_col), sh_col.alias("sh"))
            .withColumn("sh_n", F.size("sh")))
    ex = sh.select(id_col, "sh_n",
                   F.explode(F.transform("sh", F.md5)).alias("g"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"),
                      F.col("a.sh_n").alias("n_a"),
                      F.col("b.sh_n").alias("n_b"))
             .agg(F.count("*").alias("n_inter")))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (inter
            .withColumn("jaccard", F.round(jac, 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _lsh_candidate_pairs(base: DataFrame, id_col: str,
                         num_perm: int, bands: int) -> DataFrame:
    """Distinct LSH candidate id pairs from a persisted frame holding
    ``(id_col, sig)``: band each signature (md5 over the band's slots) and
    self-join on the (band, hash) key.

    The self-join deliberately carries ONLY ``(id, band, bh)`` — round 5
    shipped the signature and shingle arrays through the explode and the
    join shuffle, which tripled the shuffled bytes and (worse) put the
    whole minhash/shingle expression tree inside the join stage's
    generated code: first-run codegen alone cost ~4 s at sf0.1. Narrow
    keys here, payloads fetched later by joining candidates back to the
    persisted base (the candidate side is small — duplicate-density-scaled
    — so AQE plans it as a broadcast join and ``base`` never re-shuffles).
    Measured at sf0.1: 6.2 s → 1.5 s cold, 2.2 s → 1.3 s warm.
    """
    rows = num_perm // bands
    band_cols = [
        F.struct(F.lit(i).alias("band"),
                 F.md5(F.concat_ws("|", *[F.element_at("sig", i * rows + j + 1)
                                          for j in range(rows)])).alias("bh"))
        for i in range(bands)
    ]
    banded = base.select(id_col, F.explode(F.array(*band_cols)).alias("b"))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.b") == F.col("b.b"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      threshold: float = 0.5,
                      shingle_unit: str = "char",
                      materialize: bool = True) -> DataFrame:
    """MinHash + LSH near-dup: shingle → K–M double-hashed minhash signature →
    split into ``bands`` bands of ``num_perm/bands`` rows → band hash →
    join documents sharing any band bucket → verify with estimated Jaccard
    (signature agreement rate).

    The band join is the only shuffle that touches pairs, and its key (band
    index, band hash) is uniform. Verification = signature comparison (no
    re-shingling). Estimated Jaccard = fraction of matching signature slots.

    Fixed-band-count scale audit (VERDICT r14 #1 follow-up — why this
    operator does NOT inherit q60's fixed-bit-width pathology): the band
    key is ``md5`` over the band's ``r = num_perm/bands`` signature
    slots, a 128-bit space that never saturates — unlike a k-bit
    hyperplane bucket (2^k cells, collisions forced at n > 2^k), two
    documents collide here only when all r minhash slots AGREE, which
    happens with probability J^r for a pair of true Jaccard J. Candidate
    volume is therefore Σ_pairs J^r ≈ n·(dup density) + n²·E[J_bg^r] —
    the second (background) term is the residual scale knob: it stays
    negligible while n·J_bg^r ≪ 1, so a corpus with background
    similarity J_bg needs ``r ≥ log n / log(1/J_bg)`` rows per band
    (word-shingle J_bg ≈ 0.01–0.05 ⇒ r = 4 covers n up to ~10^8–10^5;
    grow ``num_perm`` with log n, holding ``bands`` for the recall
    curve). A parameter trade, visible in the banding formula — not a
    hard 2^k wall, which is why the default is not corpus-derived here.
    """
    # persist: both the band self-join and the candidate join-back read this
    # frame, so without it every signature is computed three times.
    # Signatures are tiny (num_perm hashes per doc); at 100 TB persisting
    # them is the standard LSH practice (spills to disk).
    sig = (_spread(df)
           .select(F.col(id_col),
                   minhash_signature(text_col, num_perm, shingle_n, shingle_unit).alias("sig"))
           .persist())
    if materialize:
        sig.count()  # fill the cache BEFORE the self-join: both sides race
        # it inside one job otherwise and each recomputes the signatures
    cand = _lsh_candidate_pairs(sig, id_col, num_perm, bands)
    pairs = (cand
             .join(sig.select(F.col(id_col).alias("id_a"),
                              F.col("sig").alias("sig_a")), "id_a")
             .join(sig.select(F.col(id_col).alias("id_b"),
                              F.col("sig").alias("sig_b")), "id_b"))
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                       lambda x, y: x == y), lambda z: z))
    est = agree.cast("double") / F.lit(num_perm)
    out = (pairs.withColumn("est_jaccard", F.round(est, 6))
               .where(F.col("est_jaccard") >= threshold)
               .select("id_a", "id_b", "est_jaccard"))
    return _finish(out, sig, materialize)


def lsh_verified_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 16,
                       bands: int = 4, shingle_n: int = 3,
                       threshold: float = 0.8,
                       shingle_unit: str = "char",
                       materialize: bool = True) -> DataFrame:
    """Near-dup with EXACT verification: MinHash-LSH generates candidate
    pairs (sub-quadratic), then the true n-gram Jaccard is computed per
    candidate from the pair's shingle sets (``array_intersect`` on two
    arrays — no re-shuffle of the corpus).

    This is the production near-dedup shape at 100 TB: candidates scale with
    duplicate density, verification touches only candidates, and the whole
    thing is engine-portable (md5-seeded integer MinHash → checkable in any
    SQL engine).
    """
    # persisted for the same three-reader reason as minhash_lsh_pairs;
    # carries the shingle sets too so verification never re-shingles
    base = (_spread(df)
            .select(F.col(id_col),
                    shingles(text_col, shingle_n, shingle_unit).alias("g"),
                    minhash_signature(text_col, num_perm, shingle_n, shingle_unit).alias("sig"))
            .persist())
    if materialize:
        base.count()  # fill the cache before the self-join (see above)
    cand = _lsh_candidate_pairs(base, id_col, num_perm, bands)
    pairs = (cand
             .join(base.select(F.col(id_col).alias("id_a"),
                               F.col("g").alias("g_a")), "id_a")
             .join(base.select(F.col(id_col).alias("id_b"),
                               F.col("g").alias("g_b")), "id_b"))
    n_inter = F.size(F.array_intersect("g_a", "g_b"))
    jac = n_inter.cast("double") / (F.size("g_a") + F.size("g_b") - n_inter)
    out = (pairs.withColumn("jaccard", F.round(jac, 6))
               .where(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))
    return _finish(out, base, materialize)


def neardup_report(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", num_perm: int = 16,
                   bands: int = 4, shingle_n: int = 3,
                   est_threshold: float = 0.5,
                   shingle_unit: str = "char",
                   materialize: bool = True) -> DataFrame:
    """One-pass near-dup report: LSH candidate pairs with BOTH the MinHash
    Jaccard estimate (signature agreement rate, cf. :func:`minhash_lsh_pairs`)
    and the EXACT shingle Jaccard (cf. :func:`lsh_verified_pairs`), filtered
    on the estimate. One signature/shingle computation and one band self-join
    serve both metrics — at 100 TB this halves the dominant cost of running
    the two operators separately.
    """
    base = (_spread(df)
            .select(F.col(id_col),
                    shingles(text_col, shingle_n, shingle_unit).alias("g"),
                    minhash_signature(text_col, num_perm, shingle_n, shingle_unit).alias("sig"))
            .persist())
    if materialize:
        base.count()  # fill the cache before the self-join (see above)
    cand = _lsh_candidate_pairs(base, id_col, num_perm, bands)
    pairs = (cand
             .join(base.select(F.col(id_col).alias("id_a"),
                               F.col("sig").alias("sig_a"),
                               F.col("g").alias("g_a")), "id_a")
             .join(base.select(F.col(id_col).alias("id_b"),
                               F.col("sig").alias("sig_b"),
                               F.col("g").alias("g_b")), "id_b"))
    agree = F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                       lambda x, y: x == y), lambda z: z))
    est = agree.cast("double") / F.lit(num_perm)
    n_inter = F.size(F.array_intersect("g_a", "g_b"))
    jac = n_inter.cast("double") / (F.size("g_a") + F.size("g_b") - n_inter)
    out = (pairs.withColumn("est_jaccard", F.round(est, 6))
               .withColumn("jaccard", F.round(jac, 6))
               .where(F.col("est_jaccard") >= est_threshold)
               .select("id_a", "id_b", "est_jaccard", "jaccard"))
    return _finish(out, base, materialize)


def embedding_neardup_pairs(df: DataFrame, threshold: float = 0.9,
                            n_tables: int = 4, n_planes: int | None = None,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            seed: int = 99, dim: int = 64,
                            materialize: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sub-quadratic.

    Candidate generation: ``n_tables`` independent random-hyperplane LSH
    tables (``n_planes`` sign bits each, deterministic from ``seed``); a
    pair is a candidate iff it collides in ≥1 table — the banding that
    makes recall tunable (1−(1−p^k)^L), exactly minhash_lsh_pairs' shape
    with hyperplanes instead of permutations. Verification: decimal-exact
    cosine (functions/vector.ddot) only on candidates. Never all pairs:
    cost scales with collision density, not n² — but collision density
    itself scales n²/2^n_planes at FIXED bits, so the DEFAULT
    ``n_planes=None`` derives the width from the corpus itself
    (VERDICT r14 #1 — a fixed default is a shipped scale trap: the
    round-14 ×100 probe measured exponent 1.42 at fixed 8 bits vs 0.43
    occupancy-constant; SCALE.md "ANN-family ×100 probe"):

      ``n_planes = clamp(ceil(log2(ceil(n / 8))), 4, 24)``

    via :func:`derive_n_planes` — constant expected bucket occupancy
    ≈ 8, integer-exact so the DuckDB oracle computes the identical k
    from ``count(*)``. The derivation costs ONE column-pruned
    ``df.count()`` job (this operator materializes its signature frame
    anyway; pass an explicit ``n_planes`` int to stay fully lazy and/or
    pin the width for oracle literals). Planes are PREFIX-STABLE in
    ``n_planes``: the generator always draws ``max(n_planes, 24)``
    plane rows per table and slices, so plane ``i`` of table ``t`` is
    the same vector whatever width a corpus derives — the oracle embeds
    one 24-plane literal set and masks bits ``i ≥ k`` instead of
    needing literals per possible width. Recall trade, documented not
    hidden: per-table collision probability for a true pair is ``p^k``
    (p = 1 − θ/π), so occupancy-constant k lowers per-table recall as n
    grows — hold recall by raising ``n_tables`` (L ≈ ln(1−R)/ln(1−p^k));
    the default favors bounded cost, the standard production choice.

    Engine-portable: the plane constants embed as literals in both
    engines, bucket signs come from plain double dots (sign mismatch would
    need |dot| < 1e-15 — measure-zero for unit-scale data), and the
    verified cosine is decimal-exact — so even this approximate operator
    is oracle-checkable end-to-end (the q29 portable-MinHash philosophy).

    Recall floor vs brute force is pinned by
    tests/test_text_dedup_similarity.py::test_embedding_neardup_recall.
    """
    import numpy as np

    from powerdatapipeline_spark.functions.vector import (array_sql, col_sql,
                                                          ddot, dot, dot_sql,
                                                          sign_bucket)

    if n_planes is None:
        n_planes = derive_n_planes(df.count())
    rng = np.random.default_rng(seed)
    # prefix-stable draw (see docstring): always generate the max width,
    # slice to the requested one
    planes = rng.standard_normal(
        (n_tables, max(n_planes, EMB_LSH_MAX_PLANES), dim))[:, :n_planes, :]

    # ONE nested literal + one transform for all n_tables×n_planes margins,
    # materialized into __sc before the bit tests — per-plane F.lit nodes and
    # per-bit dot() trees made driver-side plan construction (~2.7 s) cost
    # more than the query itself (the similarity.py scores() lesson). Built
    # as one SQL text (round 15 literal, one-parse transform): F.lit on a
    # nested list recursed into one Py4J call per element, and the
    # lambda-API transform into several per expression node
    all_planes = array_sql([[float(x) for x in planes[t][i]]
                            for t in range(n_tables) for i in range(n_planes)])
    margins = F.expr(f"transform({all_planes}, "
                     f"__row -> {dot_sql(col_sql(vec_col), '__row')})")

    tables = F.array(*[F.struct(
        F.lit(t).alias("t"),
        sign_bucket("__sc", n_planes, t * n_planes).alias("bk"))
        for t in range(n_tables)])
    # The 32 interpreted-HOF dot products are the dominant cost: compute them
    # ONCE into a persisted frame (the q29 pattern) instead of re-evaluating
    # on both sides of the self-join — and persist only the NARROW exploded
    # (id, t, bk) rows, never the vector (a 100 TB corpus doesn't fit in
    # cache; ~50-byte signature rows do). Verification re-reads vectors from
    # the source scan (column-pruned parquet) and computes the L2 norm there
    # once per DOCUMENT side — computing it per candidate pair would redo
    # the decimal aggregate 2×|candidates| times.
    hashed = (_spread(df)
              .withColumn("__sc", margins)
              .select(F.col(id_col), F.explode(tables).alias("s"))
              .select(id_col, F.col("s.t").alias("t"), F.col("s.bk").alias("bk"))
              .persist())
    if materialize:
        hashed.count()  # fill the cache before the self-join
    a, b = hashed.alias("a"), hashed.alias("b")
    cand = (a.join(b, (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.bk") == F.col("b.bk"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                   F.sqrt(ddot(vec_col, vec_col)).alias("nrm_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                   F.sqrt(ddot(vec_col, vec_col)).alias("nrm_b"))
    # Two-phase verify: the decimal-exact dot is ~10× the cost of a plain
    # double dot, and candidates outnumber true near-dups by 30×+ (banding
    # trades precision for recall by design). Phase 1 scores EVERY candidate
    # with the cheap double cosine and discards anything below
    # threshold − 1e-6; phase 2 decimal-rescores only the survivors. Safe:
    # double vs decimal summation differ by ≤ ~64·ulp ≈ 1e-13 for unit-scale
    # 64-dim data, six orders of magnitude inside the margin — no true pair
    # can be pruned. Cuts q60 verification from |candidates| to ~|matches|
    # decimal aggregates; at 100 TB the same ratio holds (phase-1 cost scales
    # with collision density, phase-2 with dup density).
    fast = dot("va", "vb") / (F.col("nrm_a") * F.col("nrm_b"))
    cos = F.round(ddot("va", "vb") / (F.col("nrm_a") * F.col("nrm_b")), 6)
    out = (cand.join(va, "id_a").join(vb, "id_b")
               .where(fast >= threshold - 1e-6)
               .withColumn("cosine", cos)
               .where(F.col("cosine") >= threshold)
               .select("id_a", "id_b", "cosine"))
    return _finish(out, hashed, materialize)


def simhash_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, shingle_n: int = 3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints; candidates = documents sharing
    at least one of 4 16-bit slices (any pair within Hamming distance 3 must
    agree on ≥1 slice — pigeonhole); verify by exact Hamming distance via
    ``bit_count(xor)``. ``hash_fn`` selects the shingle hash (see
    text.simhash64): xxhash64 for the hot path, portable60 when the run
    must be reproducible outside the JVM (q33's oracle)."""
    fp = _spread(df).select(F.col(id_col),
                            simhash64(text_col, shingle_n, hash_fn).alias("fp"))
    slices = F.array(*[
        F.struct(F.lit(i).alias("slot"),
                 F.shiftright("fp", i * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"))
        for i in range(4)
    ])
    sliced = fp.select(id_col, "fp", F.explode(slices).alias("s"))
    a, b = sliced.alias("a"), sliced.alias("b")
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (cand.withColumn("hamming", ham)
                .where(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def blocked_pairs(df: DataFrame, keys: list, id_col: str = "doc_id",
                  max_block: int | None = None) -> DataFrame:
    """Candidate pairs via blocking: for each blocking-key expression, pair
    up ids that share the key value; union across keys, distinct.

    Blocking is the classic record-linkage candidate generator (cf. the
    LSH band join in :func:`minhash_lsh_pairs` — a band IS a blocking key):
    comparisons drop from n² to Σ per-block m². Multiple keys raise recall
    (a true match only needs ONE shared key); the union stays sub-quadratic
    as long as blocks stay small. ``keys`` must be non-empty.

    ``max_block`` drops over-populated blocks entirely (the standard guard:
    a degenerate key value — empty prefix, default date — would otherwise
    contribute an m² blowup AND a skewed shuffle partition; its pairs are
    the least informative, so dedup literature discards them). At 100 TB
    this bound is what keeps the operator's cost ∝ corpus size.
    """
    if not keys:
        raise ValueError("blocked_pairs requires at least one blocking key")
    outs = []
    for k in keys:
        keyed = df.select(F.col(id_col), k.alias("__bk")).where(F.col("__bk").isNotNull())
        if max_block is not None:
            ok = (keyed.groupBy("__bk").count()
                  .where(F.col("count") <= max_block).select("__bk"))
            keyed = keyed.join(ok, "__bk")
        a, b = keyed.alias("a"), keyed.alias("b")
        outs.append(
            a.join(b, (F.col("a.__bk") == F.col("b.__bk"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b")))
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.distinct()


def fuzzy_blocked_match(df: DataFrame, name_col: str, keys: list,
                        id_col: str, max_dist: int = 4,
                        max_block: int | None = None) -> DataFrame:
    """Fuzzy matching = blocking + edit-distance verification: candidate
    pairs from :func:`blocked_pairs`, verified with ``levenshtein() <=
    max_dist``. Never computes distance on all pairs — only within blocks.

    Returns (id_a, id_b, name_a, name_b, dist). The verify join re-reads
    names from the column-pruned source by id (the same candidates-only
    verification shape as embedding_neardup_pairs).
    """
    cand = blocked_pairs(df, keys, id_col=id_col, max_block=max_block)
    na = df.select(F.col(id_col).alias("id_a"), F.col(name_col).alias("name_a"))
    nb = df.select(F.col(id_col).alias("id_b"), F.col(name_col).alias("name_b"))
    # 3-arg banded levenshtein (round 16, VERDICT r15 #6): with a
    # threshold the DP runs a 2k+1-wide band and returns -1 past it —
    # `dist != -1` ≡ `levenshtein(a,b) <= k`, and kept rows carry the
    # exact distance, so the output is result-identical at a fraction
    # of the per-pair cost (O(len·k) vs O(len²)).
    return (cand.join(na, "id_a").join(nb, "id_b")
            .withColumn("dist",
                        F.levenshtein("name_a", "name_b", max_dist))
            .where(F.col("dist") >= 0)
            .select("id_a", "id_b", "name_a", "name_b", "dist"))


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20) -> DataFrame:
    """Connected components over a pair graph: the dedup endgame. Near-dup
    operators emit PAIRS (q26/q29/q33/q60); keeping one document per
    duplicate GROUP requires merging pairs into components first — (a,b) and
    (b,c) are one cluster even though (a,c) was never a candidate.

    Algorithm: iterative min-label propagation. Every node starts labeled
    with itself; each round takes the min of its own and its neighbors'
    labels; the component's minimum id floods one hop per round, so
    convergence takes diameter(G) rounds — near-dup clusters are shallow
    (pairs share LSH buckets, so diameters are small); ``max_iter`` bounds
    pathological chains, and exhausting it with labels still changing
    RAISES rather than returning silently-wrong partial components (a
    26-node chain under a too-small budget would otherwise split one
    component into ~max_iter labels). Each round is one join + one groupBy (shuffle keyed
    by node id); lineage is truncated per round with an eager
    ``localCheckpoint`` — without it the plan doubles every iteration. The
    driver sees only the changed-row COUNT, never data. (For graphs with
    large diameter the round count drops to O(log n) with the
    large-star/small-star variant [Kiveris et al., SoCC'14]; near-dup graphs
    don't need it.)

    Returns (node, label): every node that appears in ``pairs``, labeled by
    its component's minimum id. Callers map label→cluster id and treat
    absent ids as singletons.
    """
    # No distinct on the directed union: ``pairs`` rows are already unique
    # with id_a < id_b, so the two directions cannot collide — and duplicate
    # edges would only repeat a min() argument anyway.
    edges = (pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("t"))
             .union(pairs.select(F.col(id_b).alias("s"), F.col(id_a).alias("t")))
             .localCheckpoint(eager=True))
    # Round 1 fused into one aggregation: against identity labels, the
    # neighbor-min join degenerates to min(neighbor id), so the first round
    # is a single shuffle instead of join + groupBy + join.
    labels = (edges.groupBy("s")
              .agg(F.min("t").alias("__mt"))
              .select(F.col("s").alias("node"),
                      F.least(F.col("s"), F.col("__mt")).alias("label"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter - 1):
        nbr = (edges.join(labels, edges["t"] == labels["node"])
               .groupBy("s").agg(F.min("label").alias("__m")))
        stepped = (labels.join(nbr, labels["node"] == nbr["s"], "left")
                   .select(F.col("node"),
                           F.col("label").alias("__old"),
                           F.least(F.col("label"),
                                   F.coalesce(F.col("__m"), F.col("label")))
                            .alias("label"))
                   .localCheckpoint(eager=True))
        changed = stepped.where(F.col("label") != F.col("__old")).count()
        labels = stepped.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the budget); raise max_iter "
            "— returning partial labels would split components silently")
    return labels


def incremental_dedup(new: DataFrame, seen: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Delta-ingest dedup: from a NEW batch, keep one representative per
    fingerprint that is NOT already in the ingested corpus — the
    incremental path a production pipeline runs per arrival instead of
    re-deduplicating the full corpus (cf. :func:`exact_dedup`, which this
    composes: within-batch dedup first, then an anti-join against the
    corpus fingerprint set).

    Scale: both sides reduce to 32-byte digests before any join — the
    anti-join key is uniform and the corpus side can be maintained as a
    fingerprint-only table (32 B/doc, not the documents); at 100 TB the
    seen-set is ~3 orders of magnitude smaller than the corpus and the
    new batch is delta-sized, so AQE broadcasts whichever side is small."""
    batch = (new
             .withColumn("fp", fingerprint(text_col))
             .groupBy("fp")
             .agg(F.min(id_col).alias(id_col),
                  F.count("*").alias("n_copies_in_batch")))
    seen_fp = seen.select(fingerprint(text_col).alias("fp")).distinct()
    return batch.join(seen_fp, "fp", "left_anti")


def semdedup(df: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", tau: float = 0.9) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster-then-prune
    SEMANTIC dedup over an embedding column — removes meaning-level
    duplicates (paraphrases, templated rewrites) that the surface-form
    families (MinHash q29, SimHash q33, LSH q60) cannot see.

    Stages, exactly the paper's shape:

    1. E-step assignment: every vector goes to its max-cosine centroid
       (the small ``centroids`` frame broadcasts; 6-rounded cosine with a
       centroid-id tie-break, the engine-portable ordering discipline).
    2. Within-cell pairwise cosines: two vectors in the SAME cell with
       cosine ≥ ``tau`` are semantic duplicates. Cross-cell pairs are
       never scored — the clustering is the candidate-pruning step, so
       cost is Σ|cell|², bounded by choosing k ∝ corpus size (the
       paper's design; k is the caller's scale knob, exactly like IVF
       n_cells).
    3. Keep rule: within each duplicate pair the member with the LOWER
       centroid similarity survives (the paper keeps the example
       farthest from the centroid — the least prototypical, most
       informative one); ties break toward the smaller id. A vector is
       dropped iff SOME same-cell neighbor above ``tau`` beats it under
       that order, so the kept set is well-defined without iteration
       and an oracle can replay it exactly.

    Returns every input row as ``(id, cell_id, cent_sim, is_kept)`` —
    the keep/drop decision is part of the hashed surface, not just the
    survivor list.

    Scale shape: one broadcast E-step (|corpus| × k cosines, narrow),
    one shuffle keyed by cell id for the self-join, candidate scoring
    confined to cells. Only the centroid frame (k × dim floats) is ever
    broadcast; the corpus shuffles once.
    """
    from powerdatapipeline_spark.functions.vector import ddot
    from pyspark.sql import Window

    from pyspark.sql import types as T
    # centroids binds POSITIONALLY: (id, vector). A swapped frame would
    # silently assign every row to a nonsense cell — fail loudly instead.
    cfields = centroids.schema.fields
    if len(cfields) < 2 or not isinstance(cfields[1].dataType, T.ArrayType):
        raise ValueError(
            "centroids must be a (centroid_id, vector array) frame — got "
            f"schema {centroids.schema.simpleString()}")
    # norms are MATERIALIZED once per side before any join — recomputing
    # the 64-term decimal HOF per candidate pair multiplied the pair
    # stage's work 3× (the measured 44 s → ~6 s difference at sf0.1)
    cents = F.broadcast(
        centroids.select(
            F.col(centroids.columns[0]).alias("__cid"),
            F.col(centroids.columns[1]).alias("__cvec"))
        .withColumn("__cnorm", F.sqrt(ddot("__cvec", "__cvec"))))
    base = (df.select(F.col(id_col), F.col(vec_col).alias("__v"))
            .withColumn("__norm", F.sqrt(ddot("__v", "__v"))))
    csim = F.round(ddot("__v", "__cvec")
                   / (F.col("__norm") * F.col("__cnorm")), 6)
    scored = base.crossJoin(cents).select(
        id_col, "__v", "__norm", F.col("__cid"), csim.alias("__csim"))
    w = Window.partitionBy(id_col).orderBy(F.col("__csim").desc(),
                                           F.col("__cid"))
    best = (scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(id_col, "__v", "__norm",
                    F.col("__cid").alias("cell_id"),
                    F.col("__csim").alias("cent_sim")))
    # best feeds both self-join sides AND the output frame, so the E-step
    # replays 3× in the executed plan — measured CHEAPER than forcing a
    # localCheckpoint here (5.5 s vs 7.1 s at sf0.1: the corpus × k
    # cosine pass is small next to the pair stage, and materializing
    # breaks whole-stage pipelining into the self-join)
    a = best.select(F.col(id_col).alias("__ida"), F.col("__v").alias("__va"),
                    F.col("__norm").alias("__na"),
                    F.col("cell_id"), F.col("cent_sim").alias("__sa"))
    b = best.select(F.col(id_col).alias("__idb"), F.col("__v").alias("__vb"),
                    F.col("__norm").alias("__nb"),
                    F.col("cell_id"), F.col("cent_sim").alias("__sb"))
    # two-phase pair scoring (the embedding_neardup_pairs pattern): the
    # cheap plain-double cosine prunes the Σ|cell|² candidate stream —
    # margin 1e-6 vs a ~1e-13 double-fold error bound, so no true pair
    # is lost — and the decimal-exact 6-rounded cosine decides only for
    # the survivors
    from powerdatapipeline_spark.functions.vector import dot as fdot
    fast_cos = fdot("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    pair_cos = F.round(ddot("__va", "__vb")
                       / (F.col("__na") * F.col("__nb")), 6)
    dropped = (a.join(b, "cell_id")
               .where(F.col("__ida") != F.col("__idb"))
               .where(fast_cos >= F.lit(tau) - F.lit(1e-6))
               .where(pair_cos >= F.lit(tau))
               .where((F.col("__sb") < F.col("__sa"))
                      | ((F.col("__sb") == F.col("__sa"))
                         & (F.col("__idb") < F.col("__ida"))))
               .select(F.col("__ida").alias(id_col)).distinct())
    return (best.join(dropped.withColumn("__dropped", F.lit(True)),
                      id_col, "left")
            .select(id_col, "cell_id", "cent_sim",
                    F.col("__dropped").isNull().alias("is_kept")))


def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id", n: int = 3,
                                threshold: float = 0.8,
                                unit: str = "word") -> DataFrame:
    """All-pairs Jaccard ≥ τ via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. 2007 / Xiao et al. 2008) — the EXACT sub-quadratic
    alternative to the full inverted-index join
    (:func:`ngram_jaccard_pairs`): identical output set, guaranteed (a
    pytest pins prefix-filter ≡ baseline), but candidates come only
    from each document's RAREST shingles.

    Why it's exact: order the shingle universe globally (by document
    frequency asc, digest asc — rarest first). If two sets A, B have
    ``J(A,B) ≥ τ`` then ``|A∩B| ≥ τ/(1+τ)·(|A|+|B|) ≥ τ·max(|A|,|B|)``,
    so A and B MUST collide inside their first
    ``p = |S| − ⌈τ·|S|⌉ + 1`` shingles under any fixed global order —
    skipping the frequent tail cannot lose a qualifying pair. A length
    filter (``τ·|A| ≤ |B| ≤ |A|/τ``) prunes further at candidate time.

    Cost: the index join shrinks from ``Σ_g df(g)²`` over ALL shingles
    to Σ over PREFIX postings only — and because the global order puts
    high-df shingles last, prefixes are made of the rarest grams, which
    is exactly where df² is smallest. The df table is one extra
    map-side-combined aggregate joined back on its own key (not
    force-broadcast: a 100 TB shingle vocabulary doesn't fit an
    executor; AQE may still pick broadcast when it fits). Verification
    touches candidates only, through the full index.

    Returns ``(id_a, id_b, jaccard)`` with jaccard rounded to 6."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh_col = (char_ngrams(text_col, n) if unit == "char"
              else shingles(text_col, n, unit="word"))
    sh = (_spread(df).select(F.col(id_col), sh_col.alias("sh"))
          .withColumn("sh_n", F.size("sh")))
    ex = (sh.select(id_col, "sh_n",
                    F.explode(F.transform("sh", F.md5)).alias("g"))
          .persist())
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(),
                                           F.col("g").asc())
    # prefix length |S| - ceil(τ|S|) + 1 under the (df, digest) order
    ranked = (ex.join(dfreq, "g")
              .withColumn("__r", F.row_number().over(w)))
    # persist the prefix postings (round 15): BOTH sides of the
    # candidate self-join consume them, and without the cache each
    # side re-runs the df join + per-document rank window from the
    # cached index (small but consistent win at sf0.1; at scale it
    # halves the two heaviest pre-join passes)
    prefix = ranked.where(
        F.col("__r") <= F.col("sh_n")
        - F.ceil(F.lit(threshold) * F.col("sh_n")) + 1).persist()
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (a.join(b, (F.col("a.g") == F.col("b.g"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                   & (F.col("b.sh_n")
                      >= F.ceil(F.lit(threshold) * F.col("a.sh_n")))
                   & (F.col("b.sh_n") * F.lit(threshold)
                      <= F.col("a.sh_n")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    ea = ex.select(F.col(id_col).alias("id_a"),
                   F.col("sh_n").alias("n_a"), F.col("g").alias("ga"))
    eb = ex.select(F.col(id_col).alias("__idb"),
                   F.col("sh_n").alias("n_b"), F.col("g").alias("gb"))
    # composite-key hash join (id_b, shingle): materializes exactly
    # Σ_cand |A∩B| rows — never the |A|×|B| per-pair cross product
    inter = (cand.join(ea, "id_a")
             .join(eb, (F.col("id_b") == F.col("__idb"))
                   & (F.col("ga") == F.col("gb")))
             .groupBy("id_a", "id_b", "n_a", "n_b")
             .agg(F.count("*").alias("n_inter")))
    jacc = F.round(F.col("n_inter").cast("double")
                   / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6)
    out = (inter.select("id_a", "id_b", jacc.alias("jaccard"))
           .where(F.col("jaccard") >= threshold)
           .localCheckpoint(eager=True))
    ex.unpersist()
    prefix.unpersist()
    return out


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, sort_col: str,
                              window: int = 5) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    third candidate-generation strategy beside hash blocking (exact /
    URL dedup) and LSH banding (MinHash/SimHash/embedding): sort the
    corpus on a fuzzy key and compare each record only to its ``window−1``
    successors. Catches near-matches that share a sort-key PREFIX even
    when no shingle or band collides (typos deep in the string), at
    O(n·window) candidates.

    Implementation: a global rank on (sort_col, key_col) — ties broken
    by the unique key so the neighborhood is deterministic — then each
    row replicates to the ``window−1`` ranks behind it (narrow
    ``explode(sequence)``) and equi-joins on rank: candidate pairs
    WITHOUT an inequality join. The global sort is inherent to the
    method (it's what "neighborhood" means), but the RANK is not a
    single-task ``Window.orderBy``: it is the distributed two-pass
    prefix (relational.global_prefix — range shuffle + per-partition
    ranks + P-row offset broadcast), so the corpus never serializes
    through one task (round 13; the docstring used to defer this to
    "at 100 TB use..." — now it IS the implementation).

    Returns ``(key_a, key_b, sort_a, sort_b, rank_gap)`` candidate
    pairs ordered key_a < key_b by RANK (a before b in sort order);
    the caller applies the expensive verifier (edit distance, field
    compare) to candidates only."""
    from powerdatapipeline_spark.operators.relational import \
        global_prefix

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    ranked = global_prefix(
        df.select(F.col(key_col).alias("k"), F.col(sort_col).alias("s")),
        ["s", "k"], rn_col="rn")
    right = ranked.select(F.col("k").alias("key_b"),
                          F.col("s").alias("sort_b"),
                          F.col("rn").alias("rn_b"))
    left = (ranked.select(
        F.col("k").alias("key_a"), F.col("s").alias("sort_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.sequence(F.col("rn") + 1,
                             F.col("rn") + window - 1)).alias("rn_b")))
    return (left.join(right, "rn_b")
            .select("key_a", "key_b", "sort_a", "sort_b",
                    (F.col("rn_b") - F.col("rn_a")).cast("bigint")
                    .alias("rank_gap")))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 5,
                      threshold: float = 0.5,
                      unit: str = "word") -> DataFrame:
    """DIRECTIONAL n-gram containment ``C(A→B) = |A∩B| / |A|`` — the
    asymmetric near-dup measure Jaccard hides: a short doc quoted
    wholesale inside a much longer one has tiny Jaccard (union is
    dominated by the long doc) but containment ≈ 1 in the short→long
    direction. This is the Broder (1997) "containment" companion to
    :func:`ngram_jaccard_pairs`, and the right primitive for
    quote/excerpt/subset-duplication detection in a training corpus.

    Same inverted-index candidate generation as the Jaccard baseline
    (md5(shingle) equi-join, only co-shingled pairs scored; same Σdf²
    cost model and the same word-unit selectivity caveat), but each
    undirected candidate emits BOTH directions, each normalized by its
    own source size. Returns ``(src, dst, n_src, n_inter, containment)``
    rows with containment 6-rounded and ≥ ``threshold``."""
    sh_col = (char_ngrams(text_col, n) if unit == "char"
              else shingles(text_col, n, unit="word"))
    sh = (_spread(df).select(F.col(id_col), sh_col.alias("sh"))
          .withColumn("sh_n", F.size("sh")))
    ex = sh.select(id_col, "sh_n",
                   F.explode(F.transform("sh", F.md5)).alias("g"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"),
                      F.col("a.sh_n").alias("n_a"),
                      F.col("b.sh_n").alias("n_b"))
             .agg(F.count("*").cast("bigint").alias("n_inter")))
    fwd = inter.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"),
                       F.col("n_a").cast("bigint").alias("n_src"), "n_inter")
    rev = inter.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"),
                       F.col("n_b").cast("bigint").alias("n_src"), "n_inter")
    return (fwd.unionByName(rev)
            .withColumn("containment",
                        F.round(F.col("n_inter") / F.col("n_src"), 6))
            .where(F.col("containment") >= threshold))


def fs_linkage(df: DataFrame, id_col: str, block_keys: list,
               comparisons: dict, m_probs: dict,
               max_block: int | None = None,
               materialize: bool = True) -> DataFrame:
    """Fellegi–Sunter (1969) probabilistic record-linkage scoring — the
    decision-theoretic layer ABOVE the repo's candidate generators
    (hash blocking, sorted neighborhood, LSH): each candidate pair gets
    a log-likelihood-ratio score Σ_f log2(m_f/u_f) over agreeing fields
    and Σ_f log2((1−m_f)/(1−u_f)) over disagreeing ones, so agreement
    on a RARE value (low u) counts for more than agreement on a common
    one — the property plain edit-distance matching lacks.

    ``comparisons`` maps field name → a Column deriving that field's
    comparison value from a record; agreement is exact equality of the
    derived values with NULL-on-either-side = disagreement (the
    conservative convention). ``m_probs`` maps field name → the
    declared P(agree | true match). The u-probabilities are estimated
    from the DATA — the classical frequency-based estimator
    ``u_f = Σ_v n_v(n_v−1) / (N(N−1))`` (probability two random
    records agree on f) — as one tiny aggregate per field whose 1-row
    result joins back by scalar broadcast; no EM iteration, so every
    weight is exactly replayable in SQL. Weights are 6-rounded (log2
    is transcendental); the per-pair score is a fixed-order sum of
    those rounded weights, 6-rounded again.

    Candidate pairs come from :func:`blocked_pairs` (union of
    equi-joins, ``max_block`` guards degenerate keys). At 100 TB the
    u-estimates read the same scan that derives the comparison values,
    and every join is an equi-join on id or block key. Returns one row
    per candidate pair: ``(id_a, id_b, agree_<f>..., score)``."""
    if set(comparisons) != set(m_probs):
        raise ValueError(
            f"comparisons/m_probs key mismatch: {sorted(comparisons)} "
            f"vs {sorted(m_probs)}")
    for f_, m in m_probs.items():
        if not 0.0 < m < 1.0:
            raise ValueError(f"m_probs[{f_!r}] must be in (0,1), got {m}")
    names = sorted(comparisons)
    # block keys are evaluated into the same single-scan projection as
    # the comparison values (blocked_pairs sees only this narrow frame)
    derived = df.select(
        F.col(id_col),
        *[comparisons[nm].alias(f"v_{nm}") for nm in names],
        *[k.alias(f"__blk_{i}") for i, k in enumerate(block_keys)]).persist()
    cand = blocked_pairs(derived,
                         [F.col(f"__blk_{i}")
                          for i in range(len(block_keys))],
                         id_col=id_col, max_block=max_block)
    weights = None
    for nm in names:
        vc = (derived.where(F.col(f"v_{nm}").isNotNull())
              .groupBy(f"v_{nm}").agg(F.count("*").alias("c")))
        u = vc.agg(
            (F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
             / (F.sum("c").cast("double")
                * (F.sum("c") - 1).cast("double"))).alias("u"))
        m = float(m_probs[nm])
        # guard degenerate u (mirrors the m_probs range check): an
        # all-distinct field gives u=0 (log2(m/u) → NULL), N<=1
        # non-null rows divides by zero (→ NULL), u=1 zeroes the
        # disagree term's denominator — any of these would silently
        # NULL every pair score downstream, so raise loudly instead.
        u_bad = (F.col("u").isNull() | (F.col("u") <= 0)
                 | (F.col("u") >= 1))
        u_ok = F.when(u_bad, F.raise_error(F.concat(
            F.lit(f"fs_linkage: degenerate u-probability for field "
                  f"{nm!r} (u="),
            F.col("u").cast("string"),
            F.lit("): field is all-distinct, constant, or has <2 "
                  "non-null rows — drop it from comparisons")))) \
            .otherwise(F.col("u"))
        w = u.select(
            F.round(F.log2(F.lit(m) / u_ok), 6).alias(f"wa_{nm}"),
            F.round(F.log2(F.lit(1.0 - m) / (F.lit(1.0) - u_ok)), 6)
            .alias(f"wd_{nm}"))
        weights = w if weights is None else weights.crossJoin(w)
    va = derived.select(F.col(id_col).alias("id_a"),
                        *[F.col(f"v_{nm}").alias(f"a_{nm}") for nm in names])
    vb = derived.select(F.col(id_col).alias("id_b"),
                        *[F.col(f"v_{nm}").alias(f"b_{nm}") for nm in names])
    paired = (cand.join(va, "id_a").join(vb, "id_b")
              .crossJoin(F.broadcast(weights)))
    agrees = {nm: F.coalesce(F.col(f"a_{nm}") == F.col(f"b_{nm}"),
                             F.lit(False)) for nm in names}
    score = None
    for nm in names:
        term = F.when(agrees[nm], F.col(f"wa_{nm}")) \
                .otherwise(F.col(f"wd_{nm}"))
        score = term if score is None else score + term
    out = paired.select(
        "id_a", "id_b",
        *[agrees[nm].alias(f"agree_{nm}") for nm in names],
        F.round(score, 6).alias("score"))
    return _finish(out, derived, materialize)


def fuzzy_dict_pairs(df: DataFrame, value_col: str,
                     max_dist: int = 5, top_k: int = 50,
                     max_dict_size: int = 200_000) -> DataFrame:
    """Fuzzy matching over the value DICTIONARY (blocked Levenshtein) —
    the schema/label-reconciliation primitive (reference intent:
    datapipeline/datapipeline.py's categorical-column handling assumes
    clean labels; real feeds have typo'd variants): which distinct
    values of a categorical column are within ``max_dist`` edits of
    each other, and how many rows back each side?

    Scale design — entity resolution runs on the DICTIONARY, never the
    corpus: the first aggregation reduces N rows to |V| distinct values
    with exact BIGINT support counts (one map-side-combined shuffle on
    the value itself); the quadratic stage sees only |V|. Even that is
    not all-pairs: candidates must share a BLOCK KEY (last whitespace
    token — the head noun for product-style labels) AND sit within a
    length band (``abs(len_a - len_b) <= max_dist``, a necessary
    condition for edit distance, pushed into the join), so cost is
    Σ_block C(k_b, 2) over length-compatible pairs. ``max_dict_size``
    RAISES loudly on a dictionary too large to pair (the q166/q203
    quadratic-refusal discipline) instead of exploding. Levenshtein is
    exact integer JVM codegen — no UDF, no float.

    Returns ``(value_a, value_b, dist, n_a, n_b)`` — top-k by
    (dist asc, value_a, value_b), a total order."""
    out = _fuzzy_dict_candidates(df, value_col, max_dist, max_dict_size)
    return (out.orderBy(F.asc("dist"), F.asc("value_a"),
                        F.asc("value_b"))
            .limit(top_k))


def _fuzzy_dict_candidates(df: DataFrame, value_col: str, max_dist: int,
                           max_dict_size: int) -> DataFrame:
    """The unlimited (value_a, value_b, dist, n_a, n_b) candidate frame
    behind :func:`fuzzy_dict_pairs` (which top-k's it for reporting)
    and :func:`canonicalize_labels` (which clusters it) — one blocking
    + guard implementation so the two surfaces cannot drift."""
    d = (df.select(F.col(value_col).alias("v"))
         .where(F.col("v").isNotNull())
         .groupBy("v").agg(F.count("*").cast("bigint").alias("n")))
    sized = d.select(
        "v", "n", F.length("v").alias("len"),
        F.element_at(F.split(F.col("v"), " "), -1).alias("blk"))
    n_dict = sized.agg(F.count("*").cast("bigint").alias("n_v"))
    guard = F.when(
        F.col("n_v") > max_dict_size,
        F.raise_error(F.concat(
            F.lit(f"fuzzy_dict_pairs: dictionary exceeds max_dict_size="
                  f"{max_dict_size} ("),
            F.col("n_v").cast("string"),
            F.lit(" distinct values); quadratic pairing refused — "
                  "raise the cap or pre-bucket the column"))))
    a = sized.select(F.col("v").alias("value_a"), F.col("n").alias("n_a"),
                     F.col("len").alias("len_a"), F.col("blk").alias("blk"))
    b = sized.select(F.col("v").alias("value_b"), F.col("n").alias("n_b"),
                     F.col("len").alias("len_b"),
                     F.col("blk").alias("blk2"))
    pairs = (a.join(b, (F.col("blk") == F.col("blk2"))
                    & (F.col("value_a") < F.col("value_b"))
                    & (F.abs(F.col("len_a") - F.col("len_b"))
                       <= max_dist))
             # banded 3-arg levenshtein: dist >= 0 ≡ dist <= max_dist,
             # exact distances on kept rows (see fuzzy_blocked_match)
             .select("value_a", "value_b",
                     F.levenshtein("value_a", "value_b",
                                   max_dist).alias("dist"),
                     "n_a", "n_b")
             .where(F.col("dist") >= 0))
    out = (pairs.crossJoin(F.broadcast(n_dict))
           .select(*[F.coalesce(guard.cast(t), F.col(c)).alias(c)
                     for c, t in [("value_a", "string"),
                                  ("value_b", "string"),
                                  ("dist", "integer"),
                                  ("n_a", "bigint"), ("n_b", "bigint")]]))
    return out


def canonicalize_labels(df: DataFrame, value_col: str,
                        max_dist: int = 2,
                        max_dict_size: int = 200_000,
                        max_iter: int = 12) -> DataFrame:
    """End-to-end label canonicalization — the entity-resolution
    pipeline q206 starts: blocked-Levenshtein candidate pairs over the
    value DICTIONARY (:func:`_fuzzy_dict_candidates`), connected
    components over the match graph (the O(log n) star contraction,
    operators/graph.connected_components), then one canonical spelling
    per cluster = the member with the highest row support (ties →
    lexicographically smallest), i.e. "map every typo'd variant to the
    dominant form". Values with no fuzzy match keep themselves
    (singletons never enter the graph — the CC contract).

    Everything quadratic or iterative runs on the |V|-row dictionary,
    never the corpus; applying the fix at 100 TB is one broadcast map
    join of the returned frame back onto the raw column. Returns
    ``(value, n, canonical, cluster_size)`` for clustered values,
    ordered (canonical, value)."""
    from powerdatapipeline_spark.operators.graph import \
        connected_components

    # Materialize the candidate pairs BEFORE handing them to the CC
    # loop (VERDICT r12 #3): the frame is |V|-bounded (dictionary
    # pairs, never corpus rows) so the cut is cheap, and it stops the
    # star-contraction rounds' plans from carrying the whole blocked-
    # Levenshtein sub-tree — at sf0.001 the un-cut q217 audit plan was
    # Scan×219/Exchange×435 of re-derived candidate lineage.
    cand = (_fuzzy_dict_candidates(df, value_col, max_dist,
                                   max_dict_size)
            .localCheckpoint(eager=True))
    labels = connected_components(cand, src="value_a", dst="value_b",
                                  max_iter=max_iter)
    counts = (df.select(F.col(value_col).alias("node"))
              .where(F.col("node").isNotNull())
              .groupBy("node").agg(F.count("*").cast("bigint").alias("n")))
    member = labels.join(counts, "node")
    # canonical pick + cluster size in ONE label-keyed window pass
    # (round 13): the former member⋈canon⋈size triple-join referenced
    # `member` three times, re-deriving the labels⋈counts sub-plan —
    # the rank, the unbounded count, and the rank-1 value all share a
    # single partitionBy(label) shuffle
    w_ord = Window.partitionBy("label").orderBy(F.desc("n"),
                                                F.asc("node"))
    w_all = Window.partitionBy("label")
    return (member
            .withColumn("__rn", F.row_number().over(w_ord))
            .withColumn("cluster_size",
                        F.count("*").over(w_all).cast("bigint"))
            .withColumn("canonical",
                        F.max(F.when(F.col("__rn") == 1,
                                     F.col("node"))).over(w_all))
            .select(F.col("node").alias("value"), "n", "canonical",
                    "cluster_size")
            .orderBy("canonical", "value"))


def canonical_representatives(labels: DataFrame, scored: DataFrame,
                              id_col: str = "doc_id",
                              score_col: str = "quality_score"
                              ) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster — the
    keep-WHICH-copy decision after :func:`dedup_clusters`' keep-one: the
    min-id rule (q63) is deterministic but quality-blind; a curation
    pipeline keeps the BEST copy (highest quality score, e.g.
    text.quality_score's C4/Gopher composite) and drops the rest.

    ``labels`` is dedup_clusters' ``(node, label)`` output; ``scored``
    carries ``(id_col, score_col)``. One equi-join on the id + one
    ranking window per cluster ordered by (score desc, id asc) — the id
    tiebreak makes the pick a total order, so two engines/runs keep the
    SAME copy (reproducible corpus, the shard_manifest property). Output
    is one row per multi-document cluster — cluster frames, never the
    corpus: ``(cluster_id, n_docs, rep_id, rep_score)``, with
    ``n_docs - 1`` per row the dedup savings. Singletons never enter
    ``labels`` (dedup_clusters' contract) and need no decision.

    Coverage gaps are LOUD, not silent (ADVICE r11 #5): the join is a
    LEFT join from ``labels``, so a cluster member missing from
    ``scored`` still counts in ``n_docs`` and ranks LAST (null score)
    rather than vanishing — an inner join would silently undercount the
    cluster and could flip the representative with no signal. A cluster
    whose every member is unscored surfaces as ``rep_score`` NULL."""
    j = (labels.join(scored.select(F.col(id_col).alias("node"),
                                   F.col(score_col).alias("__s")),
                     "node", "left")
         .select(F.col("label").alias("cluster_id"),
                 F.col("node"), F.col("__s")))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__s").desc_nulls_last(), F.col("node").asc())
    return (j.withColumn("__r", F.row_number().over(w))
            .groupBy("cluster_id")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.max(F.when(F.col("__r") == 1, F.col("node")))
                 .alias("rep_id"),
                 F.round(F.max(F.when(F.col("__r") == 1, F.col("__s")))
                         .cast("double"), 6).alias("rep_score")))


def sketch_calibration(pairs: DataFrame, est_col: str = "est_jaccard",
                       exact_col: str = "jaccard") -> DataFrame:
    """Calibration report for a similarity sketch: group candidate
    pairs by their SKETCH estimate (MinHash signature agreement takes
    only ``num_perm + 1`` distinct values, so the estimate IS the
    bucket) and compare against the exact similarity computed at verify
    time — per estimate level: pair count, mean exact similarity, mean
    absolute error, bias. The q172-style calibration discipline applied
    to the dedup sketch itself: a well-behaved 16-perm MinHash should
    be unbiased with |err| ≈ 0.12/√16 per level; drift here means the
    shingle universe or permutation family is off BEFORE it silently
    costs recall at the LSH threshold.

    Input is any pair frame carrying (estimate, exact) — e.g.
    :func:`minhash_lsh_pairs` output. One map-side-combined groupBy on
    the ≤ num_perm+1 distinct estimate values; exact values fold as
    DECIMAL(18,6) (they are 6-rounded upstream). Returns
    ``(est, n_pairs, mean_exact, mean_abs_err, bias)`` ordered by est."""
    base = (pairs.select(F.col(est_col).alias("__e"),
                         F.col(exact_col).alias("__x"))
            .where(F.col("__e").isNotNull() & F.col("__x").isNotNull()))
    dec = lambda c: c.cast("decimal(18,6)")
    agg = base.groupBy("__e").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(dec(F.col("__x"))).cast("decimal(38,6)").alias("__sx"),
        F.sum(dec(F.abs(F.col("__x") - F.col("__e"))))
        .cast("decimal(38,6)").alias("__sae"),
        F.sum(dec(F.col("__x") - F.col("__e"))).cast("decimal(38,6)")
        .alias("__sb"))
    fl6 = lambda c: (F.floor(c * F.lit(1_000_000.0) + F.lit(0.5))
                     .cast("double") / F.lit(1_000_000.0))
    nd = F.col("n_pairs").cast("double")
    return (agg.select(
        F.col("__e").alias("est"), "n_pairs",
        fl6(F.col("__sx").cast("double") / nd).alias("mean_exact"),
        fl6(F.col("__sae").cast("double") / nd).alias("mean_abs_err"),
        fl6(F.col("__sb").cast("double") / nd).alias("bias"))
        .orderBy("est"))
