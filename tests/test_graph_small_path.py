"""Round-15 small-graph fast paths: every iterative graph operator runs
a single-task exact twin (union-find / in-memory peel / integer
iteration via one mapInPandas task) when its materialized edge count is
at/below GRAPH_SMALL_MAX_ROWS. These tests pin fast ≡ distributed on
randomized graphs (including the bit-sensitive pagerank decimal
trajectory), the one env knob that pins the distributed forms, and the
contract edges (raises, self-loops, strings, null ids).

The distributed forms additionally stay DuckDB-oracle-verified by the
env-pinned parity sweep artifact (PARITY_graphdist_* — see
OPTIMIZATION_r15.md)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from powerdatapipeline_spark.operators import graph as gr


@pytest.fixture(scope="module")
def spark():
    from powerdatapipeline_spark.session import get_spark
    s = get_spark("test_graph_small_path", master="local[4]",
                  shuffle_partitions=4)
    yield s


def _edges(spark, pairs, typ="bigint"):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], f"src {typ}, dst {typ}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _distributed(monkeypatch, op, *args, **kwargs):
    """``op(*args, **kwargs)`` with every fast path disabled."""
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", "0")
        return op(*args, **kwargs)


def _random_graph(seed, n_nodes=40, n_edges=80):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_cc_fast_equals_distributed(spark, seed, monkeypatch):
    e = _edges(spark, _random_graph(seed))
    fast = gr.connected_components(e)
    dist = _distributed(monkeypatch, gr.connected_components, e)
    assert _rows(fast) == _rows(dist)


def test_cc_fast_handles_self_loops_and_strings(spark, monkeypatch):
    pairs = [("b", "a"), ("c", "b"), ("x", "x"), ("m", "z"), ("z", "q")]
    e = _edges(spark, pairs, typ="string")
    fast = gr.connected_components(e)
    dist = _distributed(monkeypatch, gr.connected_components, e)
    assert _rows(fast) == _rows(dist)
    got = dict(fast.collect())
    assert got["x"] == "x" and got["c"] == "a" and got["q"] == "m"


@pytest.mark.parametrize("seed,iterations", [(1, 1), (2, 3), (3, 5),
                                             (4, 6)])
def test_pagerank_fast_bit_identical(spark, seed, iterations, monkeypatch):
    # symmetrize so the dangling guard passes; the decimal trajectory
    # (6-rounded vectors, 12-decimal HALF_UP contributions) must match
    # the distributed unroll BIT FOR BIT, not approximately
    raw = _random_graph(seed, n_nodes=30, n_edges=60)
    pairs = [(a, b) for a, b in raw if a != b]
    sym = list(dict.fromkeys(pairs + [(b, a) for a, b in pairs]))
    e = _edges(spark, sym)
    fast = gr.pagerank(e, iterations=iterations)
    dist = _distributed(monkeypatch, gr.pagerank, e,
                        iterations=iterations)
    assert _rows(fast) == _rows(dist)


def test_pagerank_fast_dangling_raises(spark, monkeypatch):
    e = _edges(spark, [(1, 2), (2, 3)])  # 3 has no out-edge
    with pytest.raises(ValueError, match="without out-edges") as fast:
        gr.pagerank(e).count()
    with pytest.raises(ValueError) as dist:
        _distributed(monkeypatch, gr.pagerank, e)
    assert str(fast.value) == str(dist.value)


def test_pagerank_drops_null_ids(spark, monkeypatch):
    # both forms drop null-id edges, like every sibling operator: the
    # fast path must not fold a null into some node's rank
    e = _edges(spark, [(1, 2), (2, 1), (2, None), (None, 1), (1, 3),
                       (3, 1)])
    fast = gr.pagerank(e)
    dist = _distributed(monkeypatch, gr.pagerank, e)
    assert _rows(fast) == _rows(dist)
    assert [r[0] for r in _rows(fast)] == [1, 2, 3]


@pytest.mark.parametrize("seed,k", [(1, 2), (2, 3), (3, 2)])
def test_kcore_fast_equals_distributed(spark, seed, k, monkeypatch):
    e = _edges(spark, _random_graph(seed, n_nodes=25, n_edges=70))
    fast = gr.k_core(e, k=k)
    dist = _distributed(monkeypatch, gr.k_core, e, k=k)
    assert _rows(fast) == _rows(dist)


def test_kcore_fast_keeps_round_budget_raise(spark, monkeypatch):
    # a long path peels one layer per synchronous round — the fast
    # path must exhaust max_rounds exactly like the distributed form
    chain = _edges(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="max_rounds") as fast:
        gr.k_core(chain, k=2, max_rounds=1).count()
    with pytest.raises(RuntimeError) as dist:
        _distributed(monkeypatch, gr.k_core, chain, k=2, max_rounds=1)
    assert str(fast.value) == str(dist.value)


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 2), (3, 3)])
def test_hits_fast_equals_distributed(spark, seed, rounds, monkeypatch):
    e = _edges(spark, _random_graph(seed, n_nodes=20, n_edges=60))
    fast = gr.hits_scores(e, rounds=rounds, top_k=50)
    dist = _distributed(monkeypatch, gr.hits_scores, e, rounds=rounds,
                        top_k=50)
    assert _rows(fast) == _rows(dist)


def test_hits_fast_keeps_overflow_guard(spark, monkeypatch):
    hub = _edges(spark, [(i, 0) for i in range(2100)]
                 + [(0, i + 10_000) for i in range(2100)])
    with pytest.raises(ValueError, match="exceeds int64") as fast:
        gr.hits_scores(hub, rounds=4).count()
    with pytest.raises(ValueError) as dist:
        _distributed(monkeypatch, gr.hits_scores, hub, rounds=4)
    assert str(fast.value) == str(dist.value)


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 2), (3, 4)])
def test_lpa_fast_equals_distributed(spark, seed, rounds, monkeypatch):
    e = _edges(spark, _random_graph(seed, n_nodes=30, n_edges=70))
    fast = gr.label_propagation(e, rounds=rounds, top_k=100)
    dist = _distributed(monkeypatch, gr.label_propagation, e,
                        rounds=rounds, top_k=100)
    assert _rows(fast) == _rows(dist)


def test_lpa_fast_string_nodes(spark, monkeypatch):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("p", "q"), ("q", "p")]
    e = _edges(spark, pairs, typ="string")
    fast = gr.label_propagation(e, rounds=2, top_k=10)
    dist = _distributed(monkeypatch, gr.label_propagation, e, rounds=2,
                        top_k=10)
    assert _rows(fast) == _rows(dist)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_triangle_fast_equals_distributed(spark, seed, monkeypatch):
    e = _edges(spark, _random_graph(seed, n_nodes=25, n_edges=70))
    fast = gr.triangle_count(e)
    dist = _distributed(monkeypatch, gr.triangle_count, e)
    assert _rows(fast) == _rows(dist)


def test_triangle_fast_hub_and_strings(spark, monkeypatch):
    pairs = ([("h", f"n{i}") for i in range(30)]
             + [(f"n{i}", f"n{i + 1}") for i in range(29)])
    e = _edges(spark, pairs, typ="string")
    assert _rows(gr.triangle_count(e)) == _rows(
        _distributed(monkeypatch, gr.triangle_count, e))


def test_env_zero_disables_fast_paths(spark, monkeypatch):
    # the env knob is the one selector: no operator takes a per-call
    # override
    import inspect

    for op in (gr.pagerank, gr.triangle_count, gr.connected_components,
               gr.k_core, gr.hits_scores, gr.label_propagation):
        assert "small_max_rows" not in inspect.signature(op).parameters
    monkeypatch.delenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", raising=False)
    assert gr._small(gr.GRAPH_SMALL_MAX_ROWS)
    assert not gr._small(gr.GRAPH_SMALL_MAX_ROWS + 1)
    assert not gr._small(0)  # an empty edge list stays distributed
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", "0")
    assert not gr._small(1)
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", "123")
    assert gr._small(123) and not gr._small(124)
    # hard int64-headroom cap applies past any configured line
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS",
                       str(10 ** 9))
    assert gr._small(gr._FAST_PATH_HARD_MAX_ROWS)
    assert not gr._small(gr._FAST_PATH_HARD_MAX_ROWS + 1)
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS", "lots")
    with pytest.raises(ValueError, match="is not an integer"):
        gr._small(1)


def test_eager_reraises_only_tagged_kernel_errors(spark):
    # the sentinel channel: a tagged contract error comes back as its
    # own class and text; an untagged kernel failure is not translated
    e = _edges(spark, [(1, 2)])

    def tagged(nodes, a_i, b_i):
        raise gr._tagged(RuntimeError("contract text"))

    def plain(nodes, a_i, b_i):
        raise ValueError("plain kernel failure")

    with pytest.raises(RuntimeError) as ex:
        gr._eager(gr._single_task(e, tagged, "x int"))
    assert str(ex.value) == "contract text"
    with pytest.raises(Exception, match="plain kernel failure") as ex:
        gr._eager(gr._single_task(e, plain, "x int"))
    assert not isinstance(ex.value, ValueError)


def test_round_half_up_matches_spark_semantics():
    # shortest-repr HALF_UP — the replay-model identity (tests/_hyp)
    assert gr._round_half_up(0.1234565, 6) == 0.123457  # HALF_UP, not half-even
    assert gr._round_half_up(2.5e-7, 6) == 0.0  # .00000025 < half a quantum
    assert gr._round_half_up(1.0 / 3.0, 6) == 0.333333
