#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload history_dashboard --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics, read from spans recorded around the engine's
public calls. The line before it carries the workload's detail metrics,
the host probe and the session settings. Workloads, metrics and the load
model are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "2g"

def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pin_session(work: str) -> dict:
    """Pin the engine's session to this host and keep every file it writes
    inside the work directory."""
    settings = {
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    for v in settings.values():
        if v.startswith(work):
            os.makedirs(v, exist_ok=True)
    os.environ.update(settings)
    return {k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def _peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


#: one spin process of the host probe: for each line on stdin it spins and
#: prints its sum
_SPIN = """\
import sys
def spin(n):
    x = 0
    for i in range(n):
        x += i
    return x
for _ in sys.stdin:
    print(spin(int(sys.argv[1])), flush=True)
"""


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i
    return x


def host_probe(n: int = 3_000_000) -> dict:
    """Single-process spin and a parallel spin at min(16, cpus) processes;
    par_ratio near 1 means every core delivers its share. The parallel
    processes start before timing and are waited for before it returns."""
    cpus = _nproc()
    par = min(16, cpus)
    t0 = time.perf_counter()
    _spin(n)
    one = time.perf_counter() - t0
    procs = []
    try:
        for _ in range(par):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _SPIN, str(n)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        for _ in range(2):  # the first round warms the processes up
            t0 = time.perf_counter()
            for p in procs:
                p.stdin.write("go\n")
                p.stdin.flush()
            for p in procs:
                p.stdout.readline()
        many = time.perf_counter() - t0
    finally:
        for p in procs:
            p.stdin.close()  # ends the process's loop
        for p in procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()
    return {"cpus": cpus, "par": par, "spin_s": one, "par_s": many, "par_ratio": many / one}


_PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant: the JVM
    launcher's subshell and the JVM's Python worker daemon outlive their own
    parents, and _reap_children must be able to wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(d))
    return kids


def _reap_children() -> None:
    """Wait until this process has no child left: reap those that end on
    their own, send SIGTERM to those still running after 2 s and SIGKILL
    after 12 s."""
    term_after, kill_after = 2.0, 12.0
    t0 = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        if waited > term_after:
            sig = signal.SIGKILL if waited > kill_after else signal.SIGTERM
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


#: per-layer metrics of BENCHMARK.json: present on every workload; the
#: times among them are never zero. Layer times that only some workloads
#: exercise go to the detail line instead.
PER_LAYER = (
    "session.start_ms", "session.setup_ms", "exec.collect_ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_bytes", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "codegen.compiles", "codegen.compile_ms", "plans.eager_jobs",
    "sources.read_jobs", "sources.discovery_jobs", "memo.builds", "memo.hits", "gates.failed",
    "streaming.batches", "operators.incremental_partitions", "trace.max_unit_gap", "trace.spans",
)


def _per_layer(spans, res) -> dict:
    """Per-layer metrics from the spans of a traced run's timed units (set-up
    is reported as session.start_ms and session.setup_ms)."""
    from tracing import self_times, subtree_sum, unit_coverage

    spans = [sp for sp in spans if sp.unit is not None]
    st = self_times(spans)
    m: dict[str, float] = {}
    for sp in spans:
        k = f"self_ms.{sp.layer}"
        m[k] = m.get(k, 0.0) + st[sp.sid]

    def dur(name):
        return sum(sp.ms for sp in spans if sp.name == name)

    collects = [sp for sp in spans if sp.name == "exec.collect"]
    memo = [sp for sp in spans if sp.layer == "memo"]
    builds = [sp for sp in memo if not sp.attrs.get("hit")]
    api_self = [st[sp.sid] for sp in spans if sp.name == "api.get_values_response"]
    roots = [sp for sp in spans if sp.layer == "unit"]
    m.update({
        "plans.construct_ms": dur("plans.get_values"),
        "plans.eager_jobs": sum(subtree_sum(spans, "plans.get_values", "jobs")),
        "plans.eager_jobs_per_request": statistics.fmean(
            subtree_sum(spans, "plans.get_values", "jobs") or [0]),
        "plans.tier_discovery_ms": dur("plans.available_tiers"),
        "plans.components_ms": dur("plans.object_components"),
        "plans.parse_ms": dur("plans.parse"),
        "sources.read_ms": dur("sources.read"),
        "sources.read_jobs": sum(subtree_sum(spans, "sources.read", "jobs")),
        "sources.discovery_ms": dur("sources.discover"),
        "sources.discovery_jobs": sum(subtree_sum(spans, "sources.discover", "jobs")),
        "sources.write_ms": dur("sources.write"),
        "exec.collect_ms": sum(sp.ms for sp in collects),
        "exec.jobs": sum(sp.attrs.get("jobs", 0) for sp in spans),
        "exec.stages": sum(sp.attrs.get("stages", 0) for sp in spans),
        "exec.tasks": sum(sp.attrs.get("tasks", 0) for sp in spans),
        "exec.shuffle_bytes": sum(sp.attrs.get("shuffle_bytes", 0) for sp in spans),
        "catalyst.analysis_ms": sum(sp.attrs.get("analysis", 0) for sp in collects),
        "catalyst.optimization_ms": sum(sp.attrs.get("optimization", 0) for sp in collects),
        "catalyst.planning_ms": sum(sp.attrs.get("planning", 0) for sp in collects),
        "codegen.compiles": sum(sp.compiles for sp in roots),
        "codegen.compile_ms": sum(sp.compile_ns for sp in roots) / 1e6,
        "memo.builds": len(builds),
        "memo.hits": len(memo) - len(builds),
        "memo.build_s": sum(sp.ms for sp in builds) / 1000.0,
        "api.shape_ms": statistics.median(api_self) if api_self else 0.0,
        "trace.spans": len(spans),
        "trace.op_p50_ms": statistics.median(res.op_ms),
        "trace.pass_s": statistics.median(res.pass_s),
        "trace.pass_cpu_s": statistics.median(res.pass_cpu_s),
    })
    # one row per lifecycle stage: operators.export_ms, operators.rollup_5s_ms, ...
    for sp in roots:
        layer = sp.attrs.get("layer")
        if sp.name.startswith("stage:") and layer in ("operators", "streaming"):
            k = f"{layer}.{sp.name[6:]}_ms"
            m[k] = m.get(k, 0.0) + sp.ms
    for sp in builds:
        m[sp.name] = m.get(sp.name, 0.0) + sp.ms
    # one row per gate, without the memo builds it happened to trigger
    kids: dict[int, list] = {}
    for sp in spans:
        kids.setdefault(sp.parent, []).append(sp)

    build_ids = {sp.sid for sp in builds}

    def memo_ms(sp) -> float:
        return sum(k.ms if k.sid in build_ids else memo_ms(k) for k in kids.get(sp.sid, ()))

    for sp in spans:
        if sp.name.startswith("gate:"):
            m[sp.name] = m.get(sp.name, 0.0) + sp.ms - memo_ms(sp)
    for k in ("streaming.batches", "operators.incremental_partitions", "gates.failed"):
        m[k] = res.detail.get(k, (0, ""))[0]
    cov = unit_coverage(spans, res.unit_walls)
    m["trace.max_unit_gap"] = max(cov.values())
    m["trace.units"] = len(cov)
    return m


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: closing the gateway's
    stdin makes the JVM (and the Python workers it started) shut down."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans to this JSON file")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "signalk_parquet_spark", "__init__.py")):
        print("perfbench: run from the repository root (signalk_parquet_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    _become_subreaper()
    # a SIGTERM still runs the finally below, which stops every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        settings = _pin_session(work)
        from signalk_parquet_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).collect()  # the JVM's first action: part of starting the session
        session_s = time.perf_counter() - t0
        pre_setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark, work, args.seed, args.seconds, T_START, tracer=tracer)
        t_wl = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](run)
        wl_wall = time.perf_counter() - t_wl
        if tracer:
            tracer.uninstall()
            tracer.resolve_spark_counts()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss = _peak_rss_mb([os.getpid(), jvm_pid])

        layers = {}
        if args.trace:
            layers = _per_layer(tracer.spans, res)
            layers["session.start_ms"] = session_s * 1000.0
            layers["session.setup_ms"] = (res.setup_s - pre_setup_s) * 1000.0
            metrics = {k: {"value": layers.pop(k), "unit": _unit(k)} for k in PER_LAYER}
            if args.spans_out:
                with open(args.spans_out, "w") as fh:
                    json.dump([sp.__dict__ for sp in tracer.spans], fh)
        else:
            metrics = {
                "setup_s": {"value": res.setup_s, "unit": "s"},
                "pass_cpu_s": {"value": statistics.median(res.pass_cpu_s), "unit": "s"},
            }
        _stop(spark)
        spark = None
        detail = {k: {"value": v, "unit": u} for k, (v, u) in res.detail.items()}
        detail["failed_ops_frac"] = {"value": res.failed / max(1, res.attempted), "unit": "ratio"}
        detail["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        detail["pass_s"] = {"value": statistics.median(res.pass_s), "unit": "s"}
        detail["op_p50_ms"] = {"value": statistics.median(res.op_ms), "unit": "ms"}
        detail["datagen_s"] = {"value": res.datagen_s, "unit": "s"}
        detail["warmup_s"] = {"value": res.warmup_s, "unit": "s"}
        detail["workload_s"] = {"value": wl_wall, "unit": "s"}
        detail["units_ms"] = {"value": res.unit_walls, "unit": "ms"}
        detail.update({k: {"value": v, "unit": _unit(k)} for k, v in sorted(layers.items())})
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "session": settings, "session_start_s": session_s, "host": host_probe(),
            "failures": res.failures[:20], "detail": detail,
        }))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.startswith(("self_ms.", "memo:", "gate:")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name == "trace.max_unit_gap":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
