"""Benchmark of the networkframe_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload graph --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --compare base.json new.json

One run generates its inputs, starts a local Spark session, loads the
inputs several times (set-up), then runs whole passes of the workload's
calls from a single closed-loop client until ``--seconds`` have passed,
checking every call's output.  The last line of standard output is a
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The full result (config stamp,
per-call latencies, Spark counts, spans) goes to ``--out``, by
default ``.perfbench_out/`` in the repository root.

See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
LOADS = 3  # set-up repetitions per run; setup_s takes their median
WORKLOAD_NAMES = ("graph", "corpus_ingest")
LAYERS = (
    "session",
    "sources",
    "frame",
    "groupby",
    "algorithms",
    "exports",
    "functions.dedup",
    "functions.pipeline",
    "functions.search",
    "functions.similarity",
    "streaming",
)
LAYER_METRICS = {
    "calls": "count",
    "busy_s": "s",
    "jobs_per_call": "jobs/call",
    "tasks_per_call": "tasks/call",
    "shuffle_mb_per_call": "MB/call",
    "input_mb_per_call": "MB/call",
    "spill_mb": "MB",
    "failed_tasks": "count",
    "core_util": "fraction",
}
# config fields two results must share to be compared; the code under
# test (commit, engine digest) is what a comparison is allowed to vary
COMPARABLE = (
    "workload", "seconds", "trace", "profile", "sf", "cores",
    "driver_mem", "loads", "spark", "java", "python",
)


def per_layer_names() -> dict[str, str]:
    from workloads import ITERATE_OPS

    names = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    names.update({f"algorithms.{op}.jobs": "jobs" for op in ITERATE_OPS})
    names["trace.overhead_pct"] = "%"
    names["trace.evicted_jobs"] = "count"
    return names


def declared_metrics(trace: int) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


# ---------------------------------------------------------------------------
# process and environment
# ---------------------------------------------------------------------------
def engine_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "networkframe_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def start_session(work: Path):
    """Pinned local session; every file Spark and the JVM write goes
    under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    from networkframe_spark import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@contextmanager
def session(tag: str):
    """A Spark session and a scratch directory inside the checkout, both
    gone when the block ends.  Yields (spark, seconds to start, dir)."""
    work = ROOT / ".perfbench_work" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        yield spark, time.perf_counter() - t0, work
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS plus this Python process's peak."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)
    weighted mean of the order statistics.  A run holds a few dozen
    calls of different operations, and the plain sample median jumps
    between neighbouring operations' latencies; this estimate moves
    smoothly."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    a = (n + 1) / 2.0
    grid = np.linspace(0.0, 1.0, 20001)
    dens = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((dens[1:] + dens[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), x))


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------
class Runner:
    """Closed-loop client: issues each call after the previous ended."""

    def __init__(self, workload, tracer):
        self.wl = workload
        self.tracer = tracer
        self.records: list[dict] = []

    def run_pass(self, rng, phase: str) -> float:
        if self.records:
            self.wl.reset()
        t0 = time.perf_counter()
        with self.tracer.span("bench", phase):
            gen = self.wl.calls(rng)
            try:
                call = next(gen)
                while True:
                    out = self._run_call(call, phase)
                    call = gen.send(out)
            except StopIteration:
                pass
        return time.perf_counter() - t0

    def _run_call(self, call, phase: str):
        err = None
        with self.tracer.span(call.layer, call.op):
            t0 = time.perf_counter()
            try:
                out = call.fn()
            except Exception:  # a failed call is counted, the run goes on
                out, err = None, traceback.format_exc()
            latency = time.perf_counter() - t0
        ok = err is None
        if ok:
            try:
                ok = bool(call.check(out))
            except Exception:
                ok, err = False, traceback.format_exc()
            if not ok and err is None:
                err = "output check failed"
        if not ok:
            print(f"perfbench: {phase} {call.layer}.{call.op} failed: {err}", file=sys.stderr)
        self.records.append(
            {"phase": phase, "layer": call.layer, "op": call.op,
             "latency_s": latency, "ok": ok, "traced": self.tracer.enabled}
        )
        return out if ok else None


def run_workload(spark, session_s, name, seed, seconds, trace, inputs, loads, run_id):
    import numpy as np

    from spans import Tracer
    from workloads import CorpusIngest, Graph

    cls = {"graph": Graph, "corpus_ingest": CorpusIngest}[name]
    tracer = Tracer(spark, run_id, enabled=bool(trace))
    if trace:
        tracer.add("session", "get_spark", session_s)
    wl = cls(spark, inputs, seed, tracer.span)
    load_s = []
    for _ in range(loads):
        t0 = time.perf_counter()
        wl.load()
        load_s.append(time.perf_counter() - t0)

    runner = Runner(wl, tracer)
    rng = np.random.default_rng([seed, 1])
    # Untraced: whole passes until --seconds have passed; the first pass
    # after set-up is measured (and checked) like every other.  Traced:
    # a plain pass to warm up, a traced pass, a plain pass to compare it
    # with.
    plan = (False, True, False) if trace else ()
    passes: list[tuple[bool, float]] = []
    while True:
        traced = plan[len(passes)] if plan else False
        tracer.resume() if traced else tracer.pause()
        passes.append((traced, runner.run_pass(rng, "pass")))
        tracer.pause()
        done = len(passes) == len(plan) if plan else sum(w for _, w in passes) >= seconds
        if done:
            break

    lat = sorted(r["latency_s"] for r in runner.records if not r["traced"])
    metrics = {
        "setup_s": session_s + statistics.median(load_s),
        "peak_rss_mb": peak_rss_mb(spark),
        "ops_per_s": len(lat) / sum(lat),
        "op_p50_s": hd_median(lat),
    }
    if trace:
        metrics.update(layer_metrics(tracer, passes))

    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    ops: dict = {}
    for r in runner.records:
        ops.setdefault(f'{r["layer"]}.{r["op"]}', []).append(r["latency_s"])
    detail = {
        "session_s": session_s,
        "load_s": load_s,
        "passes": [{"traced": t, "wall_s": w} for t, w in passes],
        "timed_calls": len(lat),
        "op_latency_p50_s": {k: statistics.median(v) for k, v in sorted(ops.items())},
        "calls": [[f'{r["layer"]}.{r["op"]}', r["latency_s"], r["traced"]] for r in runner.records],
    }
    if trace:
        detail["counts"] = call_counts(tracer)
        detail["spans"] = tracer.to_records()
    return metrics, attempted, failed, detail


def layer_metrics(tracer, passes) -> dict[str, float]:
    from workloads import ITERATE_OPS

    own = tracer.self_times()
    out: dict[str, float] = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s.layer == layer]
        n = len(spans)
        busy = sum(own[s.span_id] for s in spans)
        tot = {k: sum(s.counters.get(k, 0) for s in spans) for k in
               ("jobs", "tasks", "failed_tasks", "run_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
        per = (lambda v: v / n) if n else (lambda v: 0.0)
        out[f"{layer}.calls"] = n
        out[f"{layer}.busy_s"] = busy
        out[f"{layer}.jobs_per_call"] = per(tot["jobs"])
        out[f"{layer}.tasks_per_call"] = per(tot["tasks"])
        out[f"{layer}.shuffle_mb_per_call"] = per(
            (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / 1e6
        )
        out[f"{layer}.input_mb_per_call"] = per(tot["input_bytes"] / 1e6)
        out[f"{layer}.spill_mb"] = tot["spill_bytes"] / 1e6
        out[f"{layer}.failed_tasks"] = tot["failed_tasks"]
        out[f"{layer}.core_util"] = tot["run_ms"] / 1e3 / (busy * CORES) if busy > 0 else 0.0
    for op in ITERATE_OPS:
        jobs = [s.counters["jobs"] for s in tracer.spans
                if s.layer == "algorithms" and s.op == op]
        out[f"algorithms.{op}.jobs"] = statistics.median(jobs) if jobs else 0
    # the traced pass against the plain pass after it (both warm)
    out["trace.overhead_pct"] = 100.0 * (passes[1][1] / passes[2][1] - 1.0)
    out["trace.evicted_jobs"] = tracer.evicted_jobs
    return out


def call_counts(tracer) -> dict:
    """Per op, the Spark counts of each traced call, in call order.
    ``--compare`` reports which of them repeat exactly across runs; only
    those can back a count-based claim."""
    by_op: dict = {}
    for s in tracer.spans:
        if s.layer in ("bench", "session"):
            continue
        d = by_op.setdefault(f"{s.layer}.{s.op}", {k: [] for k in ("jobs", "stages", "tasks")})
        for k in d:
            d[k].append(s.counters.get(k, 0))
    return by_op


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------
def stamp(spark, args, inputs) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "profile": inputs.profile,
        "sf": inputs.sf,
        "cores": CORES,
        "driver_mem": DRIVER_MEM,
        "loads": LOADS,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": git_commit(),
        "engine_sha256": engine_digest(),
    }


def emit(metrics: dict, units: dict, correct: bool, attempted: int, failed: int) -> None:
    for name, unit in units.items():
        print(f"perfbench: {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))


def main_run(args) -> int:
    import datagen

    units = declared_metrics(args.trace)
    run_id = f"{args.workload}-{args.seed}"
    with session(run_id) as (spark, session_s, work):
        inputs = datagen.generate(str(work / "data"), "bench", args.seed)
        metrics, attempted, failed, detail = run_workload(
            spark, session_s, args.workload, args.seed, args.seconds, args.trace,
            inputs, LOADS, f"{run_id}-{os.getpid()}",
        )
        result = {"stamp": stamp(spark, args, inputs), "metrics": metrics,
                  "attempted": attempted, "failed": failed, "detail": detail}
    out = Path(args.out) if args.out else (
        ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(result, indent=1, default=float))
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    emit(metrics, units, failed == 0, attempted, failed)
    return 0


def main_smoke(args) -> int:
    """One pass per workload at sf0.001, traced and untraced; every
    metric BENCHMARK.json names must be present, with its unit."""
    import datagen

    problems = []
    with session("smoke") as (spark, session_s, work):
        inputs = datagen.generate(str(work / "data"), "smoke", args.seed)
        for name in WORKLOAD_NAMES:
            for trace in (0, 1):
                metrics, attempted, failed, _ = run_workload(
                    spark, session_s, name, args.seed, 0, trace, inputs, 1,
                    f"smoke-{name}-{trace}",
                )
                declared = declared_metrics(trace)
                if trace and set(declared) != set(per_layer_names()):
                    problems.append("BENCHMARK.json per_layer differs from the measured set")
                missing = sorted(set(declared) - set(metrics))
                if missing:
                    problems.append(f"{name} trace={trace}: missing {missing}")
                if failed or not attempted:
                    problems.append(f"{name} trace={trace}: {failed}/{attempted} calls failed")
                print(f"perfbench smoke: {name} trace={trace}: {attempted} calls, {failed} failed")
    for p in problems:
        print(f"perfbench smoke: FAIL {p}")
    print("perfbench smoke: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


def main_compare(paths) -> int:
    """Compare result files; refuse when their config stamps differ."""
    results = [json.loads(Path(p).read_text()) for p in paths]
    base = results[0]["stamp"]
    for p, r in zip(paths[1:], results[1:]):
        diff = {k: (base.get(k), r["stamp"].get(k)) for k in COMPARABLE
                if base.get(k) != r["stamp"].get(k)}
        if diff:
            print(f"perfbench: refusing to compare {paths[0]} with {p}: stamps differ {diff}",
                  file=sys.stderr)
            return 3
    names = sorted(set.intersection(*(set(r["metrics"]) for r in results)))
    print("metric".ljust(40) + "".join(Path(p).name[:24].rjust(26) for p in paths))
    for n in names:
        print(n.ljust(40) + "".join(f'{r["metrics"][n]:26.6g}' for r in results))
    counts = [r["detail"].get("counts") for r in results]
    if all(counts):
        print("Spark counts per op (jobs, stages, tasks of each call):")
        for op in sorted(set.intersection(*(set(c) for c in counts))):
            same = all(c[op] == counts[0][op] for c in counts)
            print(f"  {op}: {'repeat exactly' if same else 'differ'} {counts[0][op]}")
    return 0


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="where to write the full result JSON")
    ap.add_argument("--smoke", action="store_true", help="one pass per workload at sf0.001")
    ap.add_argument("--compare", nargs="+", metavar="RESULT", help="compare result files")
    args = ap.parse_args(argv)
    if not (args.smoke or args.compare or args.workload):
        ap.error("one of --workload, --smoke or --compare is required")
    return args


def main(argv=None) -> int:
    args = parse(argv)
    if args.compare:
        return main_compare(args.compare)
    sys.path.insert(0, str(ROOT))
    try:
        import networkframe_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: {ROOT / 'BENCHMARK.json'} not found", file=sys.stderr)
        return 2
    return main_smoke(args) if args.smoke else main_run(args)


if __name__ == "__main__":
    sys.exit(main())
