"""Steadiness check: run workloads repeatedly, each in a fresh process, and
print every end-to-end metric's median, quartiles and spread against its
bound in BENCHMARK.json. Also prints how op times drift across the warm-up
and the timed window, and every failed op with its cause.

    python3 perfbench/steady.py [--workloads registry,grid-etl,grid-stream]
                                [--runs 5] [--first-seed 1]

With ``--runs 1`` it is the one command that runs every workload once,
checks its outputs and prints every metric with its unit. Each run's
record (``run.py --out``) is kept in ``.perfbench_out/steady/``.

Run it from the repository root. The spread is (Q3 - Q1) / median over the
runs, as ``statistics.quantiles(values, n=4)`` gives the quartiles; the
benchmark is steady when every spread except setup_s stays under a third
of its bound. Exits 1 if any run fails or any spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def drift(rec: dict) -> str:
    """Warm-up phase times, then op time per pass of the timed window
    (registry: the 8-query sample; grid-etl: one F1-F3 cycle)."""
    ops = [o["dur"] for o in rec["ops"]]
    size = rec["info"].get("pass_size") or max(1, len(ops) // 5)
    passes = [sum(ops[i:i + size]) for i in range(0, len(ops), size)]
    return (" ".join(f"{x:.2f}" for x in rec["warm"]) + " | "
            + " ".join(f"{x:.2f}" for x in passes))


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    bad = False
    records = os.path.join(".perfbench_out", "steady")
    os.makedirs(records, exist_ok=True)
    for wl in args.workloads.split(","):
        recs = []
        for k in range(args.runs):
            seed = args.first_seed + k
            out = os.path.join(records, f"{wl}-{seed}.json")
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
                "--out", out]
            p = subprocess.run(cmd, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1:] or [""]
            if p.returncode or not os.path.exists(out):
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                bad = True
                continue
            rec = json.load(open(out))
            res = json.loads(last[0])
            recs.append(rec)
            print(f"{wl} seed {seed}: ok {res['attempted'] - res['failed']}"
                  f"/{res['attempted']}  tail p{rec['info']['op_tail_pct']:.0f}"
                  f" of {rec['info']['op_samples']}  host slowdown "
                  f"{rec['info'].get('slowdown', 1.0):.2f}  drift {drift(rec)}")
            for o in rec["ops"]:
                if not o["ok"]:
                    print(f"    FAILED {o['err']}")
                    bad = True
        print(f"{wl}: {len(recs)} runs")
        for name, bound in bounds.items():
            vals = [r["e2e"][name] for r in recs]
            if len(vals) < 2:
                print(f"  {name:16s} {vals[0] if vals else float('nan'):12.6g} {units[name]}")
                continue
            med, q1, q3, sp = spread(vals)
            flag = ("OK" if sp < bound / 3 else
                    "wide" if sp <= bound else "OVER")
            if name != "setup_s" and sp > bound:
                bad = True
            print(f"  {name:16s} median {med:12.6g}  q1 {q1:12.6g}  "
                  f"q3 {q3:12.6g} {units[name]:5s} spread {sp:7.2%}  "
                  f"bound {bound:.0%}  {flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
