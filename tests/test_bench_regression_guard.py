"""Unit coverage for the bench regression guard (tools/check_bench_regression).

The guard itself runs against real bench output (``python bench.py |
python tools/check_bench_regression.py``) — these tests pin the
comparison semantics so the gate can't silently rot: ratio + absolute
floor, baseline discovery skipping crashed rounds, disjoint query sets.
"""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "check_bench_regression",
    os.path.join(REPO, "tools", "check_bench_regression.py"))
guard = importlib.util.module_from_spec(spec)
spec.loader.exec_module(guard)


def _bench(queries, total=None):
    return {"metric": "total_query_wall_seconds",
            "value": total if total is not None else sum(queries.values()),
            "unit": "sec", "queries": queries, "sf": 0.1}


def test_flags_ratio_and_floor_regression():
    prev = _bench({"q29": 2.0, "q31": 2.0})
    cur = _bench({"q29": 3.4, "q31": 2.1})
    regs = guard.find_regressions(cur, prev)
    assert regs == [("q29", 2.0, 3.4)]


def test_absolute_floor_suppresses_tiny_query_noise():
    # 0.1s -> 0.3s is 3x but only +0.2s — below the 0.5s floor, not flagged
    prev = _bench({"q50": 0.1})
    cur = _bench({"q50": 0.3})
    assert guard.find_regressions(cur, prev) == []


def test_ratio_guard_suppresses_large_base_small_ratio():
    # +0.6s on a 4s query is under 1.5x — absolute floor alone must not trip
    prev = _bench({"q35": 4.0})
    cur = _bench({"q35": 4.6})
    assert guard.find_regressions(cur, prev) == []


def test_disjoint_queries_ignored():
    prev = _bench({"q_old": 1.0})
    cur = _bench({"q_new": 9.0})
    assert guard.find_regressions(cur, prev) == []


def test_latest_baseline_skips_invalid_rounds(tmp_path):
    # r2 valid, r3 exists but has no per-query timings (crashed round) ->
    # discovery must fall back to r2, never crash on r3
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(_bench({"q1": 1.0})))
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({"rc": 1}))
    assert guard.latest_baseline(str(tmp_path)).endswith("BENCH_r02.json")


def test_latest_baseline_prefers_newest_valid(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(_bench({"q1": 1.0})))
    (tmp_path / "BENCH_r05.json").write_text(json.dumps(_bench({"q1": 2.0})))
    assert guard.latest_baseline(str(tmp_path)).endswith("BENCH_r05.json")


def test_repo_baseline_discoverable_and_unwraps_driver_envelope():
    # the real repo baseline must resolve (BENCH_r05 as of round 6) and
    # unwrap the driver's {n, rc, tail, parsed: {...}} envelope
    path = guard.latest_baseline()
    assert path is not None
    with open(path) as f:
        base = guard._unwrap(json.load(f))
    assert base is not None and base["queries"]


def test_unwrap_rejects_crashed_and_accepts_both_shapes():
    # raw bench.py shape passes through
    raw = _bench({"q1": 1.0})
    assert guard._unwrap(raw) == raw
    # driver envelope unwraps to the parsed payload
    env = {"n": 3, "rc": 0, "parsed": raw}
    assert guard._unwrap(env) == raw
    # crashed round (rc!=0) and queryless payloads are unusable
    assert guard._unwrap({"rc": 1, "parsed": raw}) is None
    assert guard._unwrap({"value": 1.0}) is None


def test_short_name_normalization_bridges_old_and_new_envelopes():
    # r7+ bench.py emits short keys (q29); pre-r7 driver baselines carry
    # long names (q29_lsh_neardup) — the guard must still compare them
    prev = _bench({"q29_lsh_neardup": 2.0, "flagship": 1.0})
    cur = _bench({"q29": 3.4, "flagship": 1.0})
    assert guard.find_regressions(cur, prev) == [("q29", 2.0, 3.4)]


def test_packed_clamp_keeps_exact_map_entry():
    # the packed string clamps at 129.5 s; a query past the clamp must
    # keep its slowest-first map entry, so 150 s -> 600 s is flagged
    import bench
    from powerdatapipeline_spark.queries import REGISTRY

    slow = sorted(REGISTRY)[0]

    def payload(slow_s):
        timings = {n: 1.0 for n in REGISTRY}
        timings["flagship"] = 1.0
        timings[slow] = slow_s
        _, line = bench.build_payloads(timings, 0.1)
        return guard._unwrap(json.loads(line))

    base, cur = payload(150.0), payload(600.0)
    short = bench.short_name(slow)
    assert (base["queries"][short], cur["queries"][short]) == (150, 600)
    assert (short, 150.0, 600.0) in guard.find_regressions(cur, base)
    # below the clamp the packed decisecond value still wins
    assert payload(42.34)["queries"][short] == 42.3


def test_latest_baseline_ignores_nonnumeric_suffix(tmp_path):
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(_bench({"q1": 1.0})))
    (tmp_path / "BENCH_rerun.json").write_text("{}")
    assert guard.latest_baseline(str(tmp_path)).endswith("BENCH_r02.json")


def test_repeat_without_run_is_a_usage_error(monkeypatch):
    import sys
    monkeypatch.setattr(sys, "argv",
                        ["check_bench_regression.py", "--repeat", "3"])
    assert guard.main() == 2


def test_bench_compact_line_always_fits_driver_capture():
    """The driver records the last 2,000 stdout chars; the compact line must
    parse from that window at the CURRENT registry size and at any future
    size (the per-query map is dropped before the headline can overflow)."""
    import bench
    from powerdatapipeline_spark.queries import REGISTRY

    # current registry size, worst-case 5-digit timings: the envelope
    # invariant is ≤ MAX_LINE (1,600 — the r6 failure mode was exactly
    # this line outgrowing the driver's 2,000-char tail capture)
    timings = {n: 99999.999 for n in REGISTRY}
    timings["flagship"] = 99999.999
    detail, line = bench.build_payloads(timings, 0.1)
    assert len(line) <= bench.MAX_LINE
    parsed = json.loads(line)
    assert parsed["value"] == detail["value"] > 0
    assert parsed["n_queries"] == len(REGISTRY) + 1

    # at the CURRENT registry size with typical sub-100 s timings the
    # per-query map must still be PRESENT in the compact line (full or
    # slowest-first truncated with an explicit q_omitted count) — the
    # map-less headline is reserved for pathological headline bloat
    typical = {n: 99.99 for n in REGISTRY}
    typical["flagship"] = 99.99
    _, tline = bench.build_payloads(typical, 0.1)
    assert len(tline) <= bench.MAX_LINE
    tparsed = json.loads(tline)
    assert "queries" in tparsed, (
        f"registry ({len(REGISTRY)} entries) has outgrown the compact "
        "per-query map — widen the bench envelope deliberately")
    # round-16 contract: the packed string carries EVERY query at
    # decisecond precision, so q_omitted (= absent from the line
    # entirely) is pinned at zero and t is exactly 2 chars per query
    assert tparsed["q_omitted"] == 0
    assert len(tparsed["t"]) == 2 * (len(REGISTRY) + 1)

    # REALISTIC timings (mostly sub-10 s) at the current size: past
    # ~195 entries the full map no longer fits and the slowest-first
    # truncation rung engages BY DESIGN — the triage guarantee is that
    # every slow query (the ones a regression hunt starts from) stays
    # visible, the omission count is explicit, and the line still fits
    realistic = {n: (9.5 if i % 10 == 0 else 0.8)
                 for i, n in enumerate(REGISTRY)}
    realistic["flagship"] = 1.2
    _, rline = bench.build_payloads(realistic, 0.1)
    rparsed = json.loads(rline)
    assert len(rline) <= bench.MAX_LINE
    assert rparsed["q_omitted"] == 0
    slow = {bench.short_name(n) for n, t in realistic.items() if t >= 2.0}
    assert slow <= set(rparsed["queries"]), (
        "slowest-first truncation must keep every >=2 s query visible")
    # the packed string round-trips EVERY query to decisecond precision
    shorts = sorted({bench.short_name(n) for n in realistic})
    by_short = {bench.short_name(n): t for n, t in realistic.items()}
    for i, s in enumerate(shorts):
        got = int(rparsed["t"][2 * i:2 * i + 2], 36) / 10.0
        assert abs(got - by_short[s]) <= 0.05001, (s, got, by_short[s])

    # pathological future growth: the slowest entries stay visible in
    # the map, the packed string still carries everything, the line fits
    big = {f"q{i:03d}_very_long_query_name_{i}": float(i % 37)
           for i in range(400)}
    _, line2 = bench.build_payloads(big, 0.1)
    assert len(line2) <= bench.MAX_LINE
    p2 = json.loads(line2)
    assert "queries" in p2 and len(p2["queries"]) < 400
    assert p2["q_omitted"] == 0 and len(p2["t"]) == 800
    # the kept entries are exactly a slowest-first slice
    kept_min = min(p2["queries"].values())
    boundary = sorted(big.values(), reverse=True)[len(p2["queries"]) - 1]
    assert kept_min >= int(round(boundary))


def test_canary_stamped_into_both_payloads():
    """Host-health canary (VERDICT r13 #2): start/end calibration timings
    land in BENCH_DETAIL and the compact stdout line, and a run whose
    canary exceeds ref*tol self-identifies as degraded — so a repeat of
    the r13 contaminated-artifact episode is machine-readable."""
    import bench
    from powerdatapipeline_spark.queries import REGISTRY

    timings = {n: 1.0 for n in REGISTRY}
    timings["flagship"] = 1.0

    # healthy host: pair present, degraded flag absent from the line
    ok = round(bench.CANARY_REF_S * 1.1, 3)
    detail, line = bench.build_payloads(timings, 0.1, canary=(ok, ok))
    assert len(line) <= bench.MAX_LINE
    parsed = json.loads(line)
    assert parsed["canary_s"] == [ok, ok]
    assert "canary_degraded" not in parsed
    assert detail["canary"] == {"start_s": ok, "end_s": ok,
                                "ref_s": bench.CANARY_REF_S,
                                "tol": bench.CANARY_TOL, "degraded": False}

    # degraded host (either endpoint past tolerance trips it)
    bad = round(bench.CANARY_REF_S * bench.CANARY_TOL * 2, 3)
    detail2, line2 = bench.build_payloads(timings, 0.1, canary=(ok, bad))
    parsed2 = json.loads(line2)
    assert parsed2["canary_degraded"] is True
    assert detail2["canary"]["degraded"] is True

    # no canary passed (unit-test callers): payloads unchanged
    detail3, line3 = bench.build_payloads(timings, 0.1)
    assert "canary" not in detail3 and "canary_s" not in json.loads(line3)

    # the calibration task itself is sane: positive, fraction-of-a-second
    # scale on any plausible host (pure CPU, no I/O)
    c = bench.run_canary(trials=1)
    assert 0.01 < c < 30.0


def test_repeat_takes_per_query_minimums(monkeypatch, tmp_path):
    """--run --repeat N compares per-query MINIMUMS across runs, so a
    noisy-machine spike in one run can't flag a false regression."""
    import subprocess
    import sys

    outs = [json.dumps(_bench({"q1": 2.9, "q2": 0.5})),   # noisy run
            json.dumps(_bench({"q1": 1.0, "q2": 0.6}))]   # clean run
    calls = iter(outs)

    class P:
        returncode = 0
        stderr = ""

        def __init__(self):
            self.stdout = next(calls) + "\n"

    monkeypatch.setattr(subprocess, "run", lambda *a, **k: P())
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(_bench({"q1": 1.1, "q2": 0.5})))
    monkeypatch.setattr(guard, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv",
                        ["check_bench_regression.py", "--run", "--repeat", "2",
                         "--baseline", str(tmp_path / "BENCH_r01.json")])
    # q1 min = 1.0 (not the 2.9 spike) -> no regression vs 1.1 baseline
    assert guard.main() == 0


def test_membw_canary_and_microset_stamped(monkeypatch):
    """Round-15 canary upgrade (VERDICT r14 #2): the memory-bandwidth
    component and the pinned micro-set land in both payloads; EITHER
    canary component past tol*ref flips the one degraded flag; micro_r
    is the median measured/ref ratio."""
    import bench
    from powerdatapipeline_spark.queries import REGISTRY

    timings = {n: 1.0 for n in REGISTRY}
    timings["flagship"] = 1.0
    ok = round(bench.CANARY_REF_S * 1.1, 3)
    mb_ok = round(bench.CANARY_MEMBW_REF_S * 1.1, 3)
    micro = {n: round(r * 1.2, 3) for n, r in bench.MICROSET_REF_S.items()}

    detail, line = bench.build_payloads(timings, 0.1, canary=(ok, ok),
                                        membw=(mb_ok, mb_ok),
                                        micro_s=micro)
    parsed = json.loads(line)
    assert parsed["canary_s"] == [ok, ok]
    assert parsed["canary_mb_s"] == [mb_ok, mb_ok]
    assert "canary_degraded" not in parsed
    assert detail["canary"]["membw_ref_s"] == bench.CANARY_MEMBW_REF_S
    assert detail["canary"]["degraded"] is False
    # micro_r: every component at 1.2x ref -> median 1.2
    assert abs(parsed["micro_r"] - 1.2) < 0.02
    assert detail["micro"]["queries_s"] == micro
    assert detail["micro"]["ref_s"] == bench.MICROSET_REF_S

    # membw degradation alone trips the shared flag (the r14 blind
    # spot: cpu canary clean, multi-core bandwidth degraded)
    mb_bad = round(bench.CANARY_MEMBW_REF_S * bench.CANARY_TOL * 2, 3)
    detail2, line2 = bench.build_payloads(timings, 0.1, canary=(ok, ok),
                                          membw=(mb_ok, mb_bad))
    assert json.loads(line2)["canary_degraded"] is True
    assert detail2["canary"]["degraded"] is True

    # the refs are env-overridable (ADVICE r14: host-specific constants)
    import importlib
    monkeypatch.setenv("SPARK_GRAFT_CANARY_REF_S", "9.9")
    monkeypatch.setenv("SPARK_GRAFT_CANARY_MEMBW_REF_S", "8.8")
    bench2 = importlib.reload(bench)
    assert bench2.CANARY_REF_S == 9.9
    assert bench2.CANARY_MEMBW_REF_S == 8.8
    monkeypatch.delenv("SPARK_GRAFT_CANARY_REF_S")
    monkeypatch.delenv("SPARK_GRAFT_CANARY_MEMBW_REF_S")
    importlib.reload(bench)

    # the bandwidth task itself is sane and genuinely multi-threaded
    # scale (sub-second on any healthy host at min-of-1)
    c = bench.run_canary_membw(trials=1)
    assert 0.005 < c < 60.0
