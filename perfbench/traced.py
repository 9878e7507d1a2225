"""Traced run: per-layer metrics, spans and tracing overhead.

    python3 perfbench/traced.py [--workloads registry,grid-etl,grid-stream]
                                [--seed 1] [--out-dir .perfbench_out]

Run it from the repository root. For each workload it runs the benchmark
twice on the same seed, each in a fresh process: once untraced and once
with ``--trace 1``. It writes ``<out-dir>/spans-<workload>.json`` (every
span, plus the host stamp) and ``<out-dir>/rollup.json`` (the per-layer
metrics of each workload and the tracing overhead), and prints the rollup.
Overhead is untraced over traced ``ops_per_s`` and ``rows_per_s``, minus 1.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def bench_run(bench: dict, workload: str, seed: int, trace: int, out: str) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace), "--out", out]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}\n{p.stderr[-2000:]}")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out-dir", default=".perfbench_out")
    args = ap.parse_args()
    os.makedirs(args.out_dir, exist_ok=True)
    rollup = {}
    for wl in args.workloads.split(","):
        plain = bench_run(bench, wl, args.seed, 0,
                          os.path.join(args.out_dir, f"untraced-{wl}.json"))
        spans_file = os.path.join(args.out_dir, f"spans-{wl}.json")
        traced = bench_run(bench, wl, args.seed, 1, spans_file)
        overhead = {k: plain["e2e"][k] / traced["e2e"][k] - 1.0
                    for k in ("ops_per_s", "rows_per_s")}
        rollup[wl] = {"layers": traced["metrics"], "overhead": overhead,
                      "untraced": plain["e2e"], "traced": traced["e2e"],
                      "host": traced["host"]}
        print(f"{wl}  seed {args.seed}  tracing overhead "
              + "  ".join(f"{k} {v:+.1%}" for k, v in overhead.items()))
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for k, v in traced["metrics"].items():
            print(f"  {k:42s} {v:14.6g} {units.get(k, '')}")
    with open(os.path.join(args.out_dir, "rollup.json"), "w") as fh:
        json.dump(rollup, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
