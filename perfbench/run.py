"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. It starts one local[nproc] Spark session,
generates the workload's inputs from ``--seed``, sets up, runs operations
for ``--seconds`` seconds, checks every output, and prints two JSON lines:
a stamped record (environment, inputs, failures, workload metrics), then
the result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. Scratch files live in
``.perfbench_work/`` and are removed; the record and the spans are kept in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tile_pipeline", "api_serve")


class Ctx:
    """What a workload gets: the session, the tracer, its seed and time
    budget, and the bookkeeping of attempted and failed operations."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.inputs: dict = {}
        self.record: dict = {}
        self.op_times: list[tuple[float | None, bool]] = []
        self._problems: list[str] = []

    def check(self, problems: list[str]) -> None:
        self._problems.extend(problems)

    def attempt(self, fn):
        """Run one operation; an exception or a failed check counts it as
        failed and its time as None."""
        self._problems = []
        self.attempted += 1
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self._problems.append(f"{type(exc).__name__}: {str(exc)[:300]}")
        if self._problems:
            self.failed += 1
            self.errors.extend(self._problems[:3])
            return None
        return result

    def measure(self, op, group: int = 1, min_groups: int = 1) -> list[float | None]:
        """Call ``op(i, traced)`` in groups of ``group`` until ``seconds``
        have passed and at least ``min_groups`` groups ran, finishing the
        group under way. In a traced run, groups alternate traced and
        untraced, so the tracing overhead can be read off; only the
        untraced times are returned."""
        if self.tracer.enabled:
            min_groups = max(min_groups, 2)
        t_end = time.perf_counter() + self.seconds
        g = 0
        while g < min_groups or time.perf_counter() < t_end:
            traced = self.tracer.enabled and g % 2 == 0
            for j in range(group):
                i = g * group + j
                self.op_times.append((self.attempt(lambda: op(i, traced)), traced))
            g += 1
        return [t for t, traced in self.op_times if not traced]

    def catalyst_ms(self, df, metric: str) -> float | None:
        from perfbench import jvm

        ms, why = jvm.catalyst_ms(df)
        self.tracer.note_missing(metric, why)
        return ms


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this driver process plus the JVM."""
    pids = [os.getpid()] + [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _stop(spark) -> None:
    """Stop Spark, then its JVM, and wait for every child process to end."""
    from perfbench import jvm

    jvm.stop_jvm(spark)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for k in _descendants(os.getpid()):
        try:
            os.kill(k, 9)
        except OSError:
            pass


def _trace_metrics(ctx) -> dict:
    """Per-layer metrics every workload reports: engine cost per traced
    operation, UDF time, and what tracing itself costs and covers."""
    from perfbench import jvm

    tr = ctx.tracer
    ops = [s for s in tr.spans if s["attrs"].get("traced") and (s["op"] or 0) >= 0]
    med = statistics.median
    out = {"trace.coverage": tr.coverage()}
    if ops:
        out["engine.jobs_per_op"] = med(len(tr.jobs_of(s)) for s in ops)
        out["engine.stages_per_op"] = med(
            sum(len(x["stages"]) for x in tr.subtree(s)) for s in ops)
        cpu = [tr.stage_sum(s, "cpu_ns") for s in ops]
        if all(c is not None for c in cpu):
            out["engine.exec_cpu_s_per_op"] = med(cpu) / 1e9
    traced = [t for t, on in ctx.op_times if on and t is not None]
    plain = [t for t, on in ctx.op_times if not on and t is not None]
    if traced and plain:
        out["trace.overhead_ms"] = (med(traced) - med(plain)) * 1000.0
    udf, why = jvm.udf_profile_s(ctx.spark)
    tr.note_missing("engine.udf_s", why)
    out["engine.udf_s"] = udf
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "osm_search_spark")):
        print(f"perfbench: no osm_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts (launcher and driver): temp files inside
    # the checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from perfbench.trace import Tracer

    from osm_search_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    t0 = time.perf_counter()
    try:
        spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    tracer.add("session", "session", t0, time.perf_counter())

    module = importlib.import_module(f"perfbench.{args.workload}")
    ctx = Ctx(spark, tracer, args.seed, args.seconds, work)
    try:
        e2e = module.run(ctx)
        ctx.record["peak_rss_mb"] = peak_rss_mb()
        layers = {}
        if tracer.enabled:
            tracer.finish()
            layers = {**module.layers(ctx), **_trace_metrics(ctx),
                      "engine.peak_rss_mb": ctx.record["peak_rss_mb"]}
        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "nproc": os.cpu_count(), "cpus_used": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark": spark.version, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(), "git_commit": _git_commit(),
            "inputs": ctx.inputs,
        }
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, {}
    source = layers if args.trace else e2e
    for m in names:
        value = source.get(m["name"])
        if value is None:
            if m["name"] not in source:
                missing[m["name"]] = f"not exercised by the {args.workload} workload"
            else:
                missing[m["name"]] = tracer.missing.get(m["name"]) or "; ".join(
                    sorted(set(tracer.missing.values()))) or "no data"
            # the result line holds only value and unit; the record line
            # before it names every missing metric with its reason
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    record = {
        **stamp,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "failed_frac": ctx.failed / ctx.attempted if ctx.attempted else 1.0,
        "errors": ctx.errors[:10], "end_to_end": e2e, "workload_metrics": ctx.record,
        "per_layer": layers, "missing": missing,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({**record, "spans": tracer.dump()}, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
