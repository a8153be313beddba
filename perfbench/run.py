"""The repository benchmark: one command, one process, one workload.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a SparkSession through
``session.get_session`` on ``local[<cpus available>]``, generates its inputs
from ``--seed`` under ``.bench_work/`` (removed on exit), runs one warm-up
pass, then measures whole passes until ``--seconds`` have elapsed, and
checks every output against a DuckDB reference (see ``checks.py``).

Standard output ends with two JSON lines: a report with every metric,
the run metadata and the input sizes, then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
result's metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` at least four passes run, the middle two of every four traced,
and the metrics are the per-layer ones. Progress and failures go to
standard error. See ``README.md`` for the metric definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Tracer  # noqa: E402
from workloads import QUERIES, WORKLOADS  # noqa: E402


class Ctx:
    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.inputs: dict = {}
        self.spark = self.sc = self.tracer = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_reference_s() -> float:
    """Fixed pure-Python reference timing, recorded as run metadata only."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def start_session(work_dir: str, cpus: int):
    from data_pipelines_examples_spark.session import get_session

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside its working directory; only
    # file locations are overridden, every tuning knob is the library's
    # own "local" profile
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    return get_session(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes, also after a failed stop
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave it running
                proc.kill()
                proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM (VmHWM) plus the Python driver."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def tail(ops) -> tuple[float, str, int]:
    """(value, basis, n): the slowest operation type's median latency. A
    run measures a few dozen operations at most, too few for a high
    percentile to have ten samples beyond it."""
    by_type: dict[str, list[float]] = {}
    for op in ops:
        by_type.setdefault(op.name, []).append(op.latency)
    return max(statistics.median(v) for v in by_type.values()), "slowest-type-median", len(ops)


def median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(ctx, wl, traced_passes, untraced_s, setup) -> dict[str, float]:
    """Per-layer metrics: per-pass totals from the traced passes (median
    over them), per-query medians, and the tracing overhead."""
    per_pass: list[dict[str, float]] = []
    q_exec: dict[str, list[float]] = {q: [] for q in QUERIES}
    for p in traced_passes:
        spans = p["spans"]
        by = lambda layer: [s for s in spans if s.layer == layer]  # noqa: E731
        recs = [r for op in p["ops"] for r in op.progress]
        ops = by("op")
        d = {
            "queries.build_s": sum(s.dur for s in by("queries")),
            "queries.eager_jobs": sum(s.jobs for s in by("queries")),
            "exec.s": sum(s.dur for s in by("exec")),
            "exec.jobs": sum(s.jobs for s in spans),
            "exec.stages": sum(s.stages for s in spans),
            "exec.tasks": sum(s.tasks for s in spans),
            "exec.failed_tasks": sum(s.failed_tasks for s in spans),
            "cache.arms": p["cache_arms"],
            "streaming.batches": len(recs),
            "streaming.drain_s": sum(s.dur for s in by("streaming")),
            "trace.op_self_s": sum(s.self_time for s in ops),
            "trace.span_s": sum(s.dur for s in ops),
            "trace.traced_pass_s": p["wall"],
        }
        for name in ("write_validated", "upsert_by_key", "compact_path"):
            d[f"writers.{name}_s"] = sum(s.dur for s in by("writers") if s.name == name)
        for key, ms in (
            ("trigger_ms", "triggerExecution"),
            ("add_batch_ms", "addBatch"),
            ("planning_ms", "queryPlanning"),
            ("wal_commit_ms", "walCommit"),
        ):
            d[f"streaming.{key}"] = sum(r["duration_ms"].get(ms, 0) for r in recs)
        per_pass.append(d)
        for s in by("exec"):
            q_exec[s.name.rsplit(".", 1)[0]].append(s.dur)
    out = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
    }
    for key in per_pass[0]:
        out[key] = median_or_zero(d[key] for d in per_pass)
    n_passes = len(traced_passes)
    out["writers.bytes_written"] = sum(wl.writer_bytes.values()) / n_passes
    out["writers.files_written"] = sum(wl.writer_files.values()) / n_passes
    out["cache.storage_mb_peak"] = wl.storage_mb_peak
    out["trace.untraced_pass_s"] = untraced_s
    out["trace.overhead_pct"] = 100.0 * (out["trace.traced_pass_s"] / untraced_s - 1.0)
    for q, xs in q_exec.items():
        out[f"{q}.exec_s"] = median_or_zero(xs)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input rows as a multiple of sf0.01 (0.1 is the sf0.001 smoke)")
    args = ap.parse_args(argv)

    import data_pipelines_examples_spark  # noqa: F401 — fail before any work

    # a terminated run still stops its JVM and removes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Ctx(args.seed, work)
    spark = None
    try:
        wl = WORKLOADS[args.workload](args.scale)
        cpus = cpu_count()
        # inputs are the harness's work: generated before the session
        # starts and left out of the set-up time
        g0 = time.perf_counter()
        wl.generate(ctx)
        generate_s = time.perf_counter() - g0
        spark = start_session(work, cpus)
        ctx.spark, ctx.sc = spark, spark.sparkContext
        spark.range(1).count()
        t_session = time.perf_counter()
        ctx.tracer = Tracer(ctx.sc, False)
        wl.setup(ctx)
        t_setup = time.perf_counter()
        setup = {
            "start_s": t_session - T_START - generate_s,
            "warm_s": t_setup - t_session,
        }
        ctx.log(f"setup {t_setup - T_START:.2f}s")

        # measure whole passes. A traced run orders its passes untraced,
        # traced, traced, untraced, so warm-up drift during the run does not
        # show up as tracing overhead.
        passes = []
        t0 = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            ctx.tracer = Tracer(ctx.sc, traced)
            arms0 = wl.cache_arms
            wl.prepare()
            p0 = time.perf_counter()
            ops = wl.run_pass()
            wall = time.perf_counter() - p0
            wl.finish_pass(ops)
            passes.append({
                "traced": traced, "ops": ops, "wall": wall,
                "spans": ctx.tracer.spans, "cache_arms": wl.cache_arms - arms0,
            })
            ctx.log(f"pass {len(passes)}{' traced' if traced else ''}: {wall:.3f}s")
            done = time.perf_counter() - t0 >= args.seconds
            if done and (not args.trace or len(passes) >= 4):
                break

        c0 = time.perf_counter()
        bad = wl.check()
        ctx.log(f"inputs {generate_s:.2f}s, check {time.perf_counter() - c0:.2f}s")
        untraced = [p for p in passes if not p["traced"]]
        ops = [op for p in untraced for op in p["ops"]]
        all_ops = [op for p in passes for op in p["ops"]]
        failed = sum(1 for op in all_ops if not op.ok or op.name in bad)
        good = [op for op in ops if op.ok and op.name not in bad] or ops
        pass_s = statistics.median(p["wall"] for p in untraced)
        tail_v, tail_basis, tail_n = tail(good)
        landed = sum(op.landed for op in all_ops)
        end_to_end = {
            "setup_s": (setup["start_s"] + setup["warm_s"], "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (statistics.median(wl.rows_per_pass() / p["wall"] for p in untraced), "rows/s"),
            "op_p50_s": (statistics.median(op.latency for op in good), "s"),
            "op_tail_s": (tail_v, "s"),
        }
        extra = {
            "peak_rss_mb": (peak_rss_mb(spark), "MB"),
            "error_rate": (failed / len(all_ops), "ratio"),
            "write_amp": (sum(op.written for op in all_ops) / landed if landed else 0.0, "ratio"),
        }
        layers = {}
        if args.trace:
            traced_passes = [p for p in passes if p["traced"]]
            layers = layer_metrics(ctx, wl, traced_passes, pass_s, setup)
            layers["writers.write_amp"] = extra["write_amp"][0]
            layers["memory.peak_rss_mb"] = extra["peak_rss_mb"][0]
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**end_to_end, **extra}.items()},
            "op_tail": {"basis": tail_basis, "samples": tail_n},
            "passes": len(untraced),
            "traced_passes": len(passes) - len(untraced),
            "failed_ops": sorted({op.name for op in all_ops if not op.ok} | bad),
            "inputs": {**ctx.inputs, "rows_per_pass": wl.rows_per_pass(), "generate_s": generate_s},
            "host": {
                "nproc": cpus,
                "master": f"local[{cpus}]",
                "pyspark": __import__("pyspark").__version__,
                "cpu_reference_s": cpu_reference_s(),
            },
            "layers": layers,
        }
        stop_session(spark)
        spark = None
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = report["metrics"]
        metrics = {k: metrics[k] for k in end_to_end}
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "cache.arms": "count",
    "cache.storage_mb_peak": "MB",
    "writers.write_validated_s": "s",
    "writers.upsert_by_key_s": "s",
    "writers.compact_path_s": "s",
    "writers.bytes_written": "bytes",
    "writers.files_written": "count",
    "writers.write_amp": "ratio",
    "streaming.batches": "count",
    "streaming.drain_s": "s",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "trace.op_self_s": "s",
    "trace.span_s": "s",
    "trace.traced_pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_pct": "%",
    "memory.peak_rss_mb": "MB",
    **{f"{q}.exec_s": "s" for q in QUERIES},
}


if __name__ == "__main__":
    sys.exit(main())
