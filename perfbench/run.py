"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload {registry,grid-etl,grid-stream}
                             --seed N --seconds S --trace {0,1} [--out FILE]

Launch it from the repository root: Spark's Python workers import the
package from the working directory. Human-readable lines come first; the
last line of stdout is the result object. ``--trace 1`` records spans and
Spark counters and reports the per-layer metrics instead of the end-to-end
ones. ``--out`` also writes the per-op records, spans and host stamp.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
LOAD_AT_START = os.getloadavg()[0]
WORKLOADS = ("registry", "grid-etl", "grid-stream")
TAIL_BEYOND = 10
# Probe time (median over a timed window) of quiet runs on a 4-vCPU Intel
# Xeon VM; see Context.probe. It only sets the scale: op times are divided
# by the host slowdown, the run's median probe time over this.
PROBE_REF_S = 0.066

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "ops_per_s": "1/s", "rows_per_s": "1/s", "latency_p50_s": "s",
             "latency_tail_s": "s", "ok_ratio": "ratio"}
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sources.read_csv_s": "s", "sources.write_s": "s", "sources.write_bytes": "bytes",
    "plans.extract_s": "s", "plans.transform_s": "s", "plans.build_jobs": "count",
    "operators.timeseries.check_intervals_s": "s",
    "operators.timeseries.resample_s": "s",
    "operators.timeseries.prefix_split_s": "s",
    "features.fit_s": "s", "features.fit_jobs": "count",
    "streaming.trigger_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s", "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s", "streaming.batches": "count",
    "streaming.rows_per_batch": "count", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes", "streaming.busy_ratio": "ratio",
    "streaming.scratch_left": "count", "sources.backlog_files": "count",
    "gen.late_s": "s", "op.self_s": "s", "trace.self_sum_error_s": "s",
    "host.slowdown": "ratio",
}


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least TAIL_BEYOND samples above it:
    (value, percentile, sample count)."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot give a tail with "
                         f"{TAIL_BEYOND} samples beyond it")
    k = n - TAIL_BEYOND - 1
    return xs[k], 100.0 * (k + 1) / n, n


class Context:
    """What a workload needs from the harness: the session, the tracer,
    its scratch directory and the setup clock."""

    def __init__(self, args, root: str, cores: int):
        self.seed, self.seconds, self.cores = args.seed, args.seconds, cores
        self.scratch = os.path.join(root, ".perfbench_tmp", f"run-{os.getpid()}")
        self.sf_dir = os.path.join(BENCH_DIR, "data", "sf0.01")
        self.excluded = 0.0
        self.setup_s: float | None = None
        self.scratch_left = 0
        self.min_ops = TAIL_BEYOND + 1  # fewer cannot give a tail
        self.spark = self.tracer = self.counters = None
        self.op_counters: dict[str, dict] = {}
        self.progress: list[dict] | None = None  # streaming reports, traced runs
        self.op_progress: dict[str, list[dict]] = {}
        self.probes: list[float] = []

    def probe(self) -> None:
        """Time fixed work that runs none of the package's code, outside op
        time: three small Spark jobs on the core RDD API, which no SQL
        setting touches. An op spends its time in the same scheduler, task
        threads and Py4J calls, so the probe slows when the shared host
        slows the ops."""
        with self.untimed():
            jsc = self.spark.sparkContext._jsc.sc()
            t0 = time.perf_counter()
            for _ in range(3):
                jsc.range(0, 1_000_000, 1, self.cores).count()
            self.probes.append(time.perf_counter() - t0)

    def slowdown(self) -> float:
        """How much slower than the reference host this one ran in the
        timed window: median probe time over the reference time."""
        return statistics.median(self.probes) / PROBE_REF_S

    @contextmanager
    def untimed(self):
        """Benchmark work (input generation, oracles, checks) that setup_s
        and op timings leave out."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t

    def repeats(self, unit_s: float, ops_per_unit: int) -> int:
        """Whole passes of the op mix that fill --seconds at the nominal
        pass time ``unit_s``, and enough ops for a tail. The count depends
        only on the settings, so every run times the same work."""
        return max(round(self.seconds / unit_s),
                   -(-self.min_ops // ops_per_unit))

    def mark_setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.excluded
        self.probes.clear()  # those of the warm-up only warmed the probe up

    def stream_scratch(self) -> str:
        return os.path.join(self.scratch, "stream-scratch")

    def left_behind(self) -> None:
        """Count, then remove, what the streaming registry queries left in
        their scratch directory."""
        base = self.stream_scratch()
        for name in os.listdir(base):
            self.scratch_left += 1
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)

    def collect(self, op_id: str) -> None:
        """Traced runs: read the op's Spark counters once its jobs are done."""
        if not self.tracer.enabled:
            return
        with self.untimed():
            spans = self.tracer.op_spans().get(op_id, [])
            self.counters.drain()
            groups = [sp["group"] for sp in spans]
            rec = self.counters.read(self.counters.job_ids(groups))
            for layer, name in (("queries.build", "queries.build_jobs"),
                                ("plans.extract", "plans.build_jobs"),
                                ("plans.transform", "plans.build_jobs"),
                                ("features.fit", "features.fit_jobs")):
                ids = self.counters.job_ids(self.tracer.groups_under(spans, layer))
                rec[name] = rec.get(name, 0.0) + len(ids)
            self.op_counters[op_id] = rec
            if self.progress is not None:
                self.op_progress[op_id] = self.progress[:]
                self.progress.clear()


def stamp(root: str, spark) -> dict:
    src = hashlib.sha1()
    pkg = os.path.join(root, "powerdatapipeline_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {"nproc": os.cpu_count(), "loadavg_1m_at_start": LOAD_AT_START,
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "commit": commit, "package_sha1": src.hexdigest()}


def start_spark(ctx: Context, cores: int):
    """Session through the package's ``get_spark``, with every scratch
    path of this process inside the run directory."""
    from powerdatapipeline_spark.session import get_spark
    from powerdatapipeline_spark.streaming import pipeline as streaming

    tmp = os.path.join(ctx.scratch, "tmp")
    os.makedirs(tmp)
    os.makedirs(ctx.stream_scratch())
    os.environ.update({"SPARK_GRAFT_CPUS": str(cores),
                       "SPARK_GRAFT_DRIVER_MEM": "2g",
                       "SPARK_LOCAL_DIRS": tmp, "TMPDIR": tmp})
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    def scratch_dir(prefix: str) -> str:
        # same contract as the package's tmpfs-preferring helper, placed in
        # the run directory so the run writes only inside its checkout
        return tempfile.mkdtemp(prefix=prefix, dir=ctx.stream_scratch())

    streaming.scratch_dir = scratch_dir
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse")}
    with ctx.tracer.span("session.start"):
        spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def closed_loop_metrics(ctx: Context, res: dict,
                        window_f: float = 1.0) -> tuple[dict, dict]:
    """Op times are divided by the host slowdown of the timed window (1.0
    gives them as measured). Throughput is taken per pass of the op mix and
    the median pass is reported, so one pass slowed by the host does not
    move it."""
    ops, size = res["ops"], res["pass_size"]
    durs = [o["dur"] / window_f for o in ops]
    t, pct, n = tail(durs)
    passes = [range(i, min(i + size, len(ops))) for i in range(0, len(ops), size)]
    per_pass = [(sum(durs[i] for i in p), [ops[i] for i in p if ops[i]["ok"]])
                for p in passes]
    m = {"setup_s": ctx.setup_s, "op_p50_s": statistics.median(durs),
         "op_tail_s": t,
         "ops_per_s": statistics.median(len(ok) / s for s, ok in per_pass),
         "rows_per_s": statistics.median(sum(o["rows"] for o in ok) / s
                                         for s, ok in per_pass),
         "latency_p50_s": statistics.median(durs), "latency_tail_s": t,
         "ok_ratio": sum(o["ok"] for o in ops) / len(ops)}
    info = {"op_tail_pct": pct, "op_samples": n, "latency_tail_pct": pct,
            "latency_samples": n, "timed_s": sum(o["dur"] for o in ops),
            "pass_size": size, "slowdown": window_f}
    return m, info


def stream_metrics(ctx: Context, res: dict) -> tuple[dict, dict]:
    items, ops = res["items"], res["ops"]
    lats = [i["latency"] for i in items if i["ok"]]
    durs = [o["dur"] for o in ops]
    lt, lpct, ln = tail(lats)
    ot, opct, on = tail(durs)
    m = {"setup_s": ctx.setup_s, "op_p50_s": statistics.median(durs),
         "op_tail_s": ot, "ops_per_s": len(ops) / res["window_s"],
         "rows_per_s": res["rows_in_window"] / res["window_s"],
         "latency_p50_s": statistics.median(lats), "latency_tail_s": lt,
         "ok_ratio": len(lats) / len(items)}
    info = {"op_tail_pct": opct, "op_samples": on, "latency_tail_pct": lpct,
            "latency_samples": ln, "timed_s": res["window_s"]}
    return m, info


def layer_metrics(ctx: Context, res: dict, workload: str) -> dict:
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    tr = ctx.tracer
    m["session.start_s"] = next(sp["end"] - sp["start"] for sp in tr.spans
                                if sp["name"] == "session.start")
    m["streaming.scratch_left"] = float(ctx.scratch_left)
    timed = [o for o in res["ops"] if "op_id" in o]
    by_op = tr.op_spans()
    errs = []
    for o in timed:
        spans = by_op[o["op_id"]]
        for name, s in tr.self_times(spans).items():
            key = f"{name}.self_s" if name == "op" else f"{name}_s"
            m[key] += s / len(timed)
        errs.append(abs(sum(tr.self_times(spans).values()) - o["dur"]))
        for k, v in ctx.op_counters[o["op_id"]].items():
            m[k] += v / len(timed)
    m["trace.self_sum_error_s"] = max(errs, default=0.0)
    if ctx.probes:
        m["host.slowdown"] = ctx.slowdown()
    if workload == "grid-etl":
        m["sources.write_bytes"] = statistics.mean(res["write_bytes"])
    if workload == "registry":
        m.update(stream_layers([p for o in timed for p in ctx.op_progress[o["op_id"]]]))
    if workload == "grid-stream":
        prog = res["progress"]
        m.update(stream_layers(prog))
        m["streaming.busy_ratio"] = sum(
            p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3 / res["window_s"]
        m["sources.backlog_files"] = float(res["backlog_files"])
        m["gen.late_s"] = res["late_s"]
        for k, v in (res.get("stream_counters") or {}).items():
            m[k] = v / max(len(prog), 1)
    return m


def stream_layers(prog: list[dict]) -> dict:
    """Per-micro-batch costs from streaming progress reports."""
    if not prog:
        return {}
    data = [p for p in prog if p["numInputRows"] > 0]

    def mean_ms(key):
        return statistics.mean(p["durationMs"].get(key, 0) for p in prog) / 1e3

    last = prog[-1].get("stateOperators") or [{}]
    return {"streaming.trigger_p50_s": statistics.median(
                p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3,
            "streaming.add_batch_s": mean_ms("addBatch"),
            "streaming.wal_commit_s": mean_ms("walCommit"),
            "streaming.query_planning_s": mean_ms("queryPlanning"),
            "streaming.latest_offset_s": mean_ms("latestOffset"),
            "streaming.batches": float(len(prog)),
            "streaming.rows_per_batch": statistics.mean(
                p["numInputRows"] for p in data) if data else 0.0,
            "streaming.state_rows": float(last[0].get("numRowsTotal", 0)),
            "streaming.state_mem_bytes": float(last[0].get("memoryUsedBytes", 0))}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write per-op records and spans here")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "powerdatapipeline_spark")):
        print("run from the repository root: powerdatapipeline_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH_DIR, root]
    from tracing import SparkCounters, Tracer, progress_log

    import wl_grid_etl
    import wl_grid_stream
    import wl_registry

    module = {"registry": wl_registry, "grid-etl": wl_grid_etl,
              "grid-stream": wl_grid_stream}[args.workload]
    cores = max(1, (os.cpu_count() or 2) - 1)
    ctx = Context(args, root, cores)
    ctx.tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        os.makedirs(ctx.scratch)
        spark = ctx.spark = start_spark(ctx, cores)
        if args.trace:
            ctx.tracer.sc = spark.sparkContext
            ctx.counters = SparkCounters(spark.sparkContext)
            if args.workload == "registry":
                ctx.progress = progress_log(spark)
        host = stamp(root, spark)
        res = module.run(ctx)
        ctx.tracer.unwrap()
        if args.workload == "grid-stream":
            if args.trace:
                ctx.counters.drain()
                res["stream_counters"] = ctx.counters.read(
                    ctx.counters.job_ids([res["run_id"]]))
            e2e, info = stream_metrics(ctx, res)
            items = res["items"]
        else:
            e2e, info = closed_loop_metrics(ctx, res, ctx.slowdown())
            info["as_measured"] = closed_loop_metrics(ctx, res)[0]
            items = res["ops"]
        metrics = (layer_metrics(ctx, res, args.workload) if args.trace else e2e)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(ctx.scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.scratch))
        except OSError:
            pass

    failed = [i for i in items if not i["ok"]]
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{cores}]  nproc {host['nproc']}  load1 {host['loadavg_1m_at_start']:.2f}")
    print(f"tail: p{info['op_tail_pct']:.1f} of {info['op_samples']} ops; "
          f"latency p{info['latency_tail_pct']:.1f} of {info['latency_samples']} items")
    measured = info.get("as_measured") if not args.trace else None
    if measured:
        print(f"host slowdown {info['slowdown']:.3f}: op times below are "
              "divided by it (as measured on the right)")
    for k, v in metrics.items():
        print(f"  {k:42s} {v:14.6g} {units[k]:6s}"
              + (f" {measured[k]:14.6g}" if measured else ""))
    print(f"ok {len(items) - len(failed)}/{len(items)}")
    for f in failed:
        print(f"  FAILED {f['err']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "host": host, "info": info,
                       "metrics": metrics, "e2e": e2e,
                       "warm": res.get("warm", []),
                       "ops": res["ops"],
                       "probes": ctx.probes,
                       "spans": ctx.tracer.spans}, fh)
    print(json.dumps({
        "correct": not failed, "attempted": len(items), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
