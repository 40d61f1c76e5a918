"""The workloads. Each one runs a closed loop with one client: the next
operation starts when the previous one returns.

Every workload returns a ``Result``: its set-up time, per-operation
latencies, per-pass times, operation counts, detail metrics and the wall
time of every timed unit (for the trace coverage check). Correctness
checks run after the timed loop and count into ``failed``.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np

import datagen

TIERS = ("5s", "60s", "1h")


@dataclass
class Result:
    setup_s: float = 0.0  # process start -> first timed op, without datagen_s
    datagen_s: float = 0.0  # time spent writing the seeded inputs
    warmup_s: float = 0.0  # gate_suite's unmeasured first pass, part of setup_s
    op_ms: list[float] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)
    pass_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    detail: dict[str, tuple[float, str]] = field(default_factory=dict)
    unit_walls: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Run:
    """Per-run state shared by the workloads: session, work dir, seed,
    measuring window, the tracer (None in an untraced run) and the
    ``perf_counter`` reading taken when the process started."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, started: float,
                 tracer=None):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.started = started
        self.tracer = tracer
        self.result = Result()
        self._jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and every
        process below the JVM (the Python UDF workers). The kernel leaves
        time stolen by the hypervisor out of CPU time, so this stays steady
        on a shared host where wall time does not."""
        kids: dict[int, list[int]] = {}
        ticks: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            pid = int(name)
            kids.setdefault(int(f[1]), []).append(pid)
            # utime + stime + the reaped children's cutime + cstime
            ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        total, todo = 0, [self._jvm]
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo += kids.get(pid, [])
        t = os.times()
        return total / self._tick + t.user + t.system

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def timed_unit(self, unit_id: str, name: str, layer: str, fn):
        """Run ``fn`` as one timed unit; returns (seconds, value, error).

        In a traced run the unit gets a root span of layer ``unit``, tagged
        with the layer the unit belongs to. The root is the benchmark's own
        bookkeeping, not an engine call: its self time is the part of the
        unit no layer span accounts for."""
        ctx = self.tracer.unit(unit_id) if self.tracer else nullcontext()
        t0 = time.perf_counter()
        err = None
        out = None
        with ctx:
            try:
                with self.span(name, "unit") as root:
                    if root is not None:
                        root.attrs["layer"] = layer
                    out = fn()
            except Exception as e:  # one failed op must not sink the run
                err = f"{unit_id}: {type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        self.result.unit_walls[unit_id] = dt * 1000.0
        return dt, out, err

    def datagen(self, make):
        """Write the seeded inputs; their time is left out of ``setup_s``."""
        t0 = time.perf_counter()
        out = make()
        self.result.datagen_s += time.perf_counter() - t0
        return out

    def start_measuring(self) -> float:
        """Called right before the first timed op: fixes ``setup_s``, the
        time from process start to here without the input generation."""
        now = time.perf_counter()
        self.result.setup_s = now - self.started - self.result.datagen_s
        return now

    def more(self, passes: list[float], t_start: float) -> bool:
        """Closed loop over passes: start another pass only if one more of
        the last pass's length still ends inside the measuring window, and
        always run at least one."""
        if not passes:
            return True
        return time.perf_counter() - t_start + passes[-1] <= self.seconds


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _files_per_partition(root: str) -> dict[str, float]:
    """Data files per leaf partition, per tier (walks the lake root)."""
    out = {}
    for tier_dir in sorted(os.listdir(root)) if os.path.isdir(root) else ():
        leaves = files = 0
        for dirpath, dirnames, names in os.walk(os.path.join(root, tier_dir)):
            data = [n for n in names if n.endswith(".parquet")]
            if data and not dirnames:
                leaves += 1
                files += len(data)
        if leaves:
            out[tier_dir.split("=", 1)[-1]] = files / leaves
    return out


# =============================================================================
# History API: history_dashboard and history_explore
# =============================================================================

class HistoryLake:
    """The History workloads' lake, built in set-up by the engine's own
    writers: the lifecycle pipeline's ingest, export and 5s/60s/1h rollup
    stages, then the hot buffer's retention, over the lifecycle input. The
    2 cold days end up in the lake (raw and tiers), the hot day in the hot
    buffer."""

    def __init__(self, run: Run, root: str):
        inp = run.datagen(lambda: LifecycleInput(run, os.path.join(root, "input")))
        self.input_files = inp.files
        self.first_day = datagen.day_start(inp.first)
        self.hot_day = datagen.day_start(datagen.EVENTS_DAYS - 1)
        pipe = Pipeline(run, inp, os.path.join(root, "lake"))
        pipe.ingest()
        pipe.export()
        for tier in TIERS:
            pipe.rollup(tier)
        pipe.buf.retention_cleanup(self.hot_day)
        self.lake, self.buffer = pipe.lake, pipe.buf

    def planner(self):
        from signalk_parquet_spark.plans.history import HistoryPlanner

        return HistoryPlanner(self.lake, self.buffer, units_by_path=datagen.UNITS_BY_PATH)


def _iso(dt) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


@dataclass(frozen=True)
class Request:
    shape: str
    paths: str
    context: str
    from_iso: str
    to_iso: str
    resolution_s: int
    bbox: tuple | None = None

    def kwargs(self) -> dict:
        kw = dict(from_iso=self.from_iso, to_iso=self.to_iso,
                  resolution_s=self.resolution_s, context=self.context)
        if self.bbox is not None:
            kw["bbox"] = self.bbox
        return kw


#: shapes whose responses are checked against DuckDB over the input files
CHECKED = ("average", "minmax", "federated")


def dashboard_panel(hl: HistoryLake, vessel: str, rng: np.random.Generator) -> list[Request]:
    """The fixed panel of request shapes one dashboard refreshes."""
    end, lo = hl.hot_day, hl.first_day
    day = timedelta(days=1)
    back = int(rng.integers(1, LIFECYCLE_DAYS))  # the seed picks the cold day shown first
    p = datagen.PATH_OF
    return [
        Request("average", p["click"], vessel, _iso(end - back * day), _iso(end - (back - 1) * day), 300),
        Request("minmax", f"{p['view']}:min,{p['view']}:max", vessel, _iso(lo), _iso(end), 3600),
        Request("angular", datagen.ANGULAR_PATH, vessel, _iso(lo), _iso(end), 900),
        Request("position", datagen.POSITION_PATH, vessel, _iso(end - day), _iso(end), 3600),
        Request("federated", p["purchase"], vessel, _iso(end - day), _iso(end + day), 600),
        Request("smoothed", f"{p['signup']}:sma:5,{p['signup']}:average:ema:0.3", vessel,
                _iso(lo), _iso(end + day), 3600),
        Request("bbox", p["click"], vessel, _iso(lo), _iso(end), 3600, bbox=(58.9, 59.1, 10.4, 10.6)),
    ]


#: one request of each shape per session (the dashboard panel adds the smoothed
#: and bbox shapes)
EXPLORE_KINDS = ("average", "minmax", "angular", "position", "federated")


def explore_requests(first_day, hot_day, rng: np.random.Generator) -> list[Request]:
    """One request of each shape, each for a seeded vessel, path, day and
    resolution. Every window is one day (federated: the last cold day and
    the hot day), so a request's cost depends on its shape, not its draw.
    Cold windows start on a seeded day in [first_day, hot_day)."""
    out = []
    day = timedelta(days=1)
    cold_days = (hot_day - first_day).days
    for kind in EXPLORE_KINDS:
        vessel = datagen.VESSELS[int(rng.integers(0, len(datagen.VESSELS)))]
        path = datagen.SCALAR_PATHS[int(rng.integers(0, len(datagen.SCALAR_PATHS)))]
        frm = first_day + day * int(rng.integers(0, cold_days))
        to = frm + day
        res = int(rng.choice([300, 600, 900]))
        if kind == "federated":
            frm, to = hot_day - day, hot_day + day
        elif kind == "minmax":
            path = f"{path}:min,{path}:max"
        elif kind == "angular":
            path = datagen.ANGULAR_PATH
        elif kind == "position":
            path, res = datagen.POSITION_PATH, 3600
        out.append(Request(kind, path, vessel, _iso(frm), _iso(to), res))
    return out


def _send(run: Run, planner, req: Request, uid: str):
    from signalk_parquet_spark import api

    return run.timed_unit(
        uid, f"request:{req.shape}", "api",
        lambda: api.get_values_response(planner, req.paths, **req.kwargs()),
    )


def _check_history(run: Run, input_files: list[str], answered: list[tuple[Request, dict]]) -> None:
    """Scalar average/min/max responses vs DuckDB over the input files."""
    import duckdb

    con = duckdb.connect()
    files = ", ".join(f"'{f}'" for f in input_files)
    want_cache: dict[tuple, dict] = {}
    for req, resp in answered:
        if req.shape not in CHECKED:
            continue
        for spec in req.paths.split(","):
            path, _, method = spec.partition(":")
            method = method or "average"
            key = (req.context, path, method, req.from_iso, req.to_iso, req.resolution_s)
            if key not in want_cache:
                res_ms = req.resolution_s * 1000
                agg = {"average": "avg", "min": "min", "max": "max"}[method]
                rows = con.execute(f"""
                    SELECT strftime(epoch_ms(CAST(floor(epoch_ms(signalk_timestamp)/{res_ms})*{res_ms}
                                    AS BIGINT)), '%Y-%m-%dT%H:%M:%SZ') AS b, {agg}(value)
                    FROM read_parquet([{files}])
                    WHERE context = ? AND path = ?
                      AND epoch_ms(signalk_timestamp) >= epoch_ms(CAST(? AS TIMESTAMPTZ))
                      AND epoch_ms(signalk_timestamp) < epoch_ms(CAST(? AS TIMESTAMPTZ))
                    GROUP BY 1""", [req.context, path, req.from_iso, req.to_iso]).fetchall()
                want_cache[key] = dict(rows)
            want = want_cache[key]
            col = resp["columns"].index(spec if method != "average" else path)
            got = {row[0]: row[col] for row in resp["data"] if row[col] is not None}
            ok = got.keys() == want.keys() and all(
                math.isclose(got[b], want[b], rel_tol=1e-9, abs_tol=1e-9) for b in want)
            if not ok:
                run.result.fail(f"history {req.shape} {spec} {req.context}: "
                                f"{len(got)} buckets vs DuckDB {len(want)}")


def _latency_detail(run: Run, ms: list[float], prefix: str) -> None:
    if not ms:
        return
    d = run.result.detail
    d[f"{prefix}_p50_ms"] = (float(np.percentile(ms, 50)), "ms")
    if len(ms) >= 100:
        d[f"{prefix}_p90_ms"] = (float(np.percentile(ms, 90)), "ms")
    d[f"{prefix}_samples"] = (len(ms), "count")


def history_dashboard(run: Run) -> Result:
    """One long-lived planner refreshes a fixed panel for 2 vessels. The
    first round fills the planner's caches and is not timed; the timed
    rounds are the steady state."""
    res = run.result
    hl = HistoryLake(run, os.path.join(run.work, "history"))
    rng = np.random.default_rng(run.seed)
    vessels = rng.choice(datagen.VESSELS, 2, replace=False)
    panel = [r for v in vessels for r in dashboard_panel(hl, str(v), rng)]
    planner = hl.planner()
    answered = []
    t_start = None
    rounds = 0
    while t_start is None or run.more(res.pass_s, t_start):
        t_round, cpu0 = 0.0, run.cpu_s()
        for i, req in enumerate(panel):
            dt, resp, err = _send(run, planner, req, f"round{rounds}:{i}:{req.shape}")
            res.attempted += 1
            t_round += dt
            if rounds:
                res.op_ms.append(dt * 1000.0)
            if err:
                res.fail(err)
            elif rounds < 2:
                answered.append((req, resp))
        if rounds:
            res.pass_s.append(t_round)
            res.pass_cpu_s.append(run.cpu_s() - cpu0)
        else:
            t_start = run.start_measuring()
        rounds += 1
    _latency_detail(run, res.op_ms, "values")
    res.detail["rounds"] = (rounds, "count")
    _check_history(run, hl.input_files, answered)
    return res


def history_explore(run: Run) -> Result:
    """Sessions: a new planner, a discovery call, then seeded-random
    requests across the whole lake — every session starts with cold planner
    caches."""
    from signalk_parquet_spark import api

    res = run.result
    hl = HistoryLake(run, os.path.join(run.work, "history"))
    rng = np.random.default_rng(run.seed)
    answered = []
    discovery_ms = []
    t_start = run.start_measuring()
    sessions = 0
    want_ctx = sorted(datagen.VESSELS)
    while run.more(res.pass_s, t_start):
        t_sess, cpu0 = 0.0, run.cpu_s()
        planner = hl.planner()
        dt, disc, err = run.timed_unit(
            f"session{sessions}:discovery", "request:discovery", "api",
            lambda: api.discovery_response(planner))
        res.attempted += 1
        t_sess += dt
        discovery_ms.append(dt * 1000.0)
        if err:
            res.fail(err)
        elif disc["contexts"] != want_ctx:
            res.fail(f"discovery contexts {disc['contexts']}")
        for i, req in enumerate(explore_requests(hl.first_day, hl.hot_day, rng)):
            dt, resp, err = _send(run, planner, req, f"session{sessions}:{i}:{req.shape}")
            res.attempted += 1
            t_sess += dt
            res.op_ms.append(dt * 1000.0)
            if err:
                res.fail(err)
            else:
                answered.append((req, resp))
        res.pass_s.append(t_sess)
        res.pass_cpu_s.append(run.cpu_s() - cpu0)
        sessions += 1
    _latency_detail(run, res.op_ms, "values")
    res.detail["discovery_p50_ms"] = (float(np.median(discovery_ms)), "ms")
    res.detail["sessions"] = (sessions, "count")
    _check_history(run, hl.input_files, answered)
    return res


# =============================================================================
# lifecycle: the write path
# =============================================================================

LIFECYCLE_DAYS = 3  # 2 cold days + the hot day; retention drops the older cold day
LIFECYCLE_EVENTS = 24_000  # over 30 days; the input keeps the last LIFECYCLE_DAYS


class LifecycleInput:
    """Daily record files on disk (the pipeline's input)."""

    def __init__(self, run: Run, root: str):
        import pyarrow.parquet as pq

        records = datagen.signalk_records(run.seed, LIFECYCLE_EVENTS)
        first = datagen.EVENTS_DAYS - LIFECYCLE_DAYS
        days = datagen.write_daily_files(records, os.path.join(root, "all"))
        self.dir = os.path.join(root, "input")
        os.makedirs(self.dir)
        for d in sorted(days):
            if d >= first:
                os.rename(days[d], os.path.join(self.dir, os.path.basename(days[d])))
        shutil.rmtree(os.path.join(root, "all"))
        self.first = first
        self.files = [os.path.join(self.dir, f) for f in sorted(os.listdir(self.dir))]
        self.bytes = _du(self.dir)
        self.rows = sum(pq.ParquetFile(f).metadata.num_rows for f in self.files)


class Pipeline:
    """The lifecycle's stages over a fresh lake and hot buffer under
    ``base``. Each stage calls the engine's public functions; in a traced
    run every call the tracer does not wrap itself gets a span here."""

    def __init__(self, run: Run, inp: LifecycleInput, base: str):
        from signalk_parquet_spark.sources.buffer import HotBuffer
        from signalk_parquet_spark.sources.lake import Lake

        self.run, self.inp, self.base = run, inp, base
        os.makedirs(base)
        self.lake = Lake(run.spark, os.path.join(base, "lake"))
        self.buf = HotBuffer(run.spark, os.path.join(base, "hot"))
        self.schema = run.spark.read.parquet(inp.dir).schema
        self.progress: list = []

    def ingest(self) -> None:
        from signalk_parquet_spark.streaming.ingest import start_file_ingest

        run = self.run
        with run.span("streaming.start_file_ingest", "streaming"):
            q = start_file_ingest(run.spark, self.inp.dir, self.buf, self.schema,
                                  os.path.join(self.base, "ckpt"))
        with run.span("streaming.await_termination", "streaming"):
            q.awaitTermination()
        self.progress = q.recentProgress

    def export(self) -> int:
        return sum(self.buf.export_day(self.lake, datagen.day_start(d))
                   for d in range(self.inp.first, datagen.EVENTS_DAYS - 1))

    def rollup(self, tier: str) -> None:
        from pyspark.sql import functions as F

        from signalk_parquet_spark.operators.rollup import rollup_angular, rollup_scalar
        from signalk_parquet_spark.sources.hive_paths import sanitize_path

        raw = self.lake.read(tier="raw")
        with self.run.span("operators.rollup", "operators"):
            scalar = rollup_scalar(raw.filter(F.col("path").isin(
                *[sanitize_path(p) for p in datagen.SCALAR_PATHS])), tier)
            angular = rollup_angular(raw.filter(
                F.col("path") == sanitize_path(datagen.ANGULAR_PATH)), tier)
        self.lake.write_rollup(scalar, tier)
        self.lake.write_rollup(angular, tier)

    def incremental(self, late) -> int:
        from signalk_parquet_spark.operators.incremental import rollup_incremental

        self.lake.write_records(late, tier="raw", mode="append")
        with self.run.span("operators.rollup_incremental", "operators"):
            return sum(rollup_incremental(self.lake, late, tier) for tier in TIERS)

    def retention(self, hot_day, now) -> list:
        from signalk_parquet_spark.operators.lifecycle import retention_cleanup

        with self.run.span("operators.buffer_retention", "operators"):
            self.buf.retention_cleanup(hot_day)
        with self.run.span("operators.retention_cleanup", "operators"):
            return retention_cleanup(self.lake, now, base_days=1)

    def compact(self, vessel: str, series: str, year: int):
        from signalk_parquet_spark.operators.lifecycle import compact_partition
        from signalk_parquet_spark.sources.hive_paths import sanitize_context, sanitize_path

        with self.run.span("operators.compact_partition", "operators"):
            return compact_partition(self.lake, "raw", sanitize_context(vessel),
                                     sanitize_path(series), year)


def _late_rows(inp: LifecycleInput, rng: np.random.Generator, path: str) -> str:
    """Write 20 late scalar records for seeded cold days to ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 20
    days = rng.choice(np.arange(inp.first, datagen.EVENTS_DAYS - 1), n)
    ms = [int(datagen.day_start(int(d)).timestamp() * 1000) + int(rng.integers(0, 86_400)) * 1000 + 999
          for d in days]
    ts = pa.array([m * 1000 for m in ms], pa.timestamp("us", tz="UTC"))
    cols = {f.name: pa.nulls(n, f.type) for f in datagen.RECORD_SCHEMA}
    cols.update({
        "received_timestamp": ts, "signalk_timestamp": ts,
        "context": pa.array([datagen.VESSELS[i] for i in rng.integers(0, 4, n)]),
        "path": pa.array([datagen.SCALAR_PATHS[i] for i in rng.integers(0, len(datagen.SCALAR_PATHS), n)]),
        "value": pa.array(np.round(rng.uniform(0, 300, n), 2)),
    })
    pq.write_table(pa.table(cols, schema=datagen.RECORD_SCHEMA), path)
    return path


def lifecycle(run: Run) -> Result:
    """daily files -> streaming ingest into the hot buffer -> export_day ->
    5s/60s/1h rollups -> late rows + incremental refresh -> retention ->
    compaction -> a History session on the result (discovery, then one
    request of each shape). One pass per loop turn, each in fresh lake and
    buffer directories."""
    from signalk_parquet_spark import api
    from signalk_parquet_spark.plans.history import HistoryPlanner

    res = run.result
    spark = run.spark
    inp = run.datagen(lambda: LifecycleInput(run, os.path.join(run.work, "input")))
    rng = np.random.default_rng(run.seed)
    hot_day = datagen.day_start(datagen.EVENTS_DAYS - 1)
    now = hot_day + timedelta(hours=23)
    t_start = run.start_measuring()
    stage_s: dict[str, list[float]] = {}
    passes = 0
    ingest = {"s": [], "batches": [], "batch_ms": []}
    checked = False
    while run.more(res.pass_s, t_start):
        pipe = Pipeline(run, inp, os.path.join(run.work, f"pass{passes}"))
        late_file = _late_rows(inp, rng, os.path.join(pipe.base, "late.parquet"))
        late = spark.read.parquet(late_file)
        vessel = datagen.VESSELS[int(rng.integers(0, 4))]
        series = datagen.SCALAR_PATHS[int(rng.integers(0, len(datagen.SCALAR_PATHS)))]

        # the lake is queryable: a History session on it, as history_explore
        # sends one, over the cold day retention kept and the hot day
        planner = HistoryPlanner(pipe.lake, pipe.buf, units_by_path=datagen.UNITS_BY_PATH)
        requests = explore_requests(hot_day - timedelta(days=1), hot_day, rng)

        def query(req):
            return lambda: api.get_values_response(planner, req.paths, **req.kwargs())

        stages = [("ingest", "streaming", pipe.ingest), ("export", "operators", pipe.export)]
        stages += [(f"rollup_{t}", "operators", lambda t=t: pipe.rollup(t)) for t in TIERS]
        stages += [("incremental", "operators", lambda: pipe.incremental(late)),
                   ("retention", "operators", lambda: pipe.retention(hot_day, now)),
                   ("compact", "operators", lambda: pipe.compact(vessel, series, hot_day.year)),
                   ("discovery", "api", lambda: api.discovery_response(planner))]
        stages += [(f"query_{r.shape}", "api", query(r)) for r in requests]
        t_pass, cpu0 = 0.0, run.cpu_s()
        outs = {}
        for name, layer, fn in stages:
            dt, out, err = run.timed_unit(f"pass{passes}:{name}", f"stage:{name}", layer, fn)
            res.attempted += 1
            t_pass += dt
            res.op_ms.append(dt * 1000.0)
            stage_s.setdefault(name, []).append(dt)
            outs[name] = out
            if err:
                res.fail(err)
                break
        res.pass_s.append(t_pass)
        res.pass_cpu_s.append(run.cpu_s() - cpu0)
        ingest["s"].append(stage_s["ingest"][-1])
        ingest["batches"].append(len(pipe.progress))
        ingest["batch_ms"] += [p["durationMs"].get("triggerExecution", 0) for p in pipe.progress]
        if not checked and not res.failed:
            _check_lifecycle(run, pipe, outs)
            answered = [(r, outs[f"query_{r.shape}"]) for r in requests]
            _check_history(run, inp.files + [late_file], answered)
            checked = True
        if passes > 0:
            shutil.rmtree(pipe.base, ignore_errors=True)
        passes += 1

    d = res.detail
    d["lifecycle_s"] = (float(np.median(res.pass_s)), "s")
    d["ingest_rows_per_s"] = (inp.rows / float(np.median(ingest["s"])), "rows/s")
    d["streaming.batches"] = (int(np.median(ingest["batches"])), "count")
    d["streaming.rows_in"] = (inp.rows, "count")
    if ingest["batch_ms"]:
        d["streaming.batch_p50_ms"] = (float(np.median(ingest["batch_ms"])), "ms")
    for name, ts in stage_s.items():
        d[f"stage.{name}_ms"] = (float(np.median(ts)) * 1000.0, "ms")
    d["passes"] = (passes, "count")
    return res


def _check_lifecycle(run: Run, pipe: Pipeline, outs: dict) -> None:
    """Tiers vs a full recompute from raw, ingest completeness, retention,
    and the final query; plus the storage accounting."""
    from pyspark.sql import functions as F

    from signalk_parquet_spark.operators.rollup import rollup_angular, rollup_scalar
    from signalk_parquet_spark.sources.hive_paths import sanitize_path

    inp, lake, buf, base = pipe.inp, pipe.lake, pipe.buf, pipe.base
    res = run.result
    landed = buf.read().count()
    exported = outs.get("export") or 0
    if exported + landed != inp.rows:
        res.fail(f"lifecycle ingest: {exported} exported + {landed} hot != {inp.rows} input rows")
    raw = lake.read(tier="raw").drop("tier")
    keys = raw.select("context", "path", "year", "day").distinct()
    common = ["context", "path", "bucket_time", "value_avg", "value_min", "value_max",
              "sample_count", "first_timestamp", "last_timestamp"]
    got, want = [], []
    for roll, paths in ((rollup_scalar, [sanitize_path(p) for p in datagen.SCALAR_PATHS]),
                        (rollup_angular, [sanitize_path(datagen.ANGULAR_PATH)])):
        for tier in TIERS:
            cols = [F.lit(tier).alias("tier")] + [
                F.round(c, 9).alias(c) if c.startswith("value_") else F.col(c) for c in common]
            want.append(roll(raw.filter(F.col("path").isin(*paths)), tier).select(*cols))
            got.append(lake.read(tier=tier).join(keys, ["context", "path", "year", "day"], "left_semi")
                       .filter(F.col("path").isin(*paths)).select(*cols))

    def rows(frames):
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return sorted(map(tuple, out.collect()), key=repr)

    if rows(got) != rows(want):
        res.fail("lifecycle tiers differ from a full recompute of raw")
    removed = outs.get("retention") or []
    if not removed:
        res.fail("lifecycle retention removed nothing")
    if not (outs.get("incremental") or 0) > 0:
        res.fail("lifecycle incremental refresh touched no partition")
    if outs["discovery"]["contexts"] != sorted(datagen.VESSELS):
        res.fail(f"lifecycle discovery: contexts {outs['discovery']['contexts']}")
    stored = _du(os.path.join(base, "lake")) + _du(os.path.join(base, "hot"))
    d = res.detail
    d["stored_bytes_per_input_byte"] = (stored / inp.bytes, "ratio")
    d["hot_rows_after_retention"] = (landed, "count")
    d["operators.incremental_partitions"] = (outs.get("incremental") or 0, "count")
    files = sum(1 for _, _, fs in os.walk(os.path.join(base, "lake")) for f in fs if f.endswith(".parquet"))
    d["sources.files_written"] = (files, "count")
    d["sources.bytes_written"] = (stored, "bytes")
    for tier, fpp in _files_per_partition(os.path.join(base, "lake")).items():
        d[f"sources.files_per_partition.{tier}"] = (fpp, "ratio")


# =============================================================================
# gate_suite: registered gates, constructed then collected
# =============================================================================

#: The gates gate_suite times, in this order: one from every 20 of the
#: registry as it stood when the benchmark was written, 9 of 175. Fixed by
#: name, so that reordering, adding or removing registered gates does not
#: change the workload; a name no longer registered fails its op.
GATE_PANEL = (
    "dedup_containment", "decontaminate_bloom", "anti_join_users", "dedup_semantic",
    "rate_of_change", "perplexity_buckets", "glitch_speed_legs", "text_token_stats",
    "shard_plan",
)
GATE_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
GATE_WARMUP_PASSES = 2


def _evict_memos(spark) -> None:
    """Drop this session's memo entries so the next pass builds them again,
    as a fresh session would."""
    import sys

    from signalk_parquet_spark.memo import SessionMemo

    app = spark.sparkContext.applicationId
    for name, mod in list(sys.modules.items()):
        if not name.startswith("signalk_parquet_spark."):
            continue
        for memo in [v for v in vars(mod).values() if isinstance(v, SessionMemo)]:
            for a, tag in list(memo._store):
                if a == app:
                    memo.evict(spark, tag)


def gate_suite(run: Run) -> Result:
    """Table loads and the worker pool warm-up in set-up, as bench.py does,
    then passes over GATE_PANEL, each gate constructed then collected."""
    from signalk_parquet_spark import registry
    from signalk_parquet_spark.session import warm_worker_pool

    res = run.result
    sf_dir = os.path.join(run.work, "tables")
    run.datagen(lambda: datagen.write_tables(sf_dir, run.seed, 0.001))
    for t in GATE_TABLES:
        registry.load(run.spark, sf_dir, t)
    warm_worker_pool(run.spark)
    qs = registry.queries()
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    construct_s: list[float] = []
    execute_s: list[float] = []
    # Unmeasured passes first: a fresh JVM spends ~15 s of CPU compiling
    # and loading classes in its first pass and is still compiling in its
    # second, by amounts that vary from run to run; the measured passes then
    # time the engine, not the JIT. A gate that fails here fails again, and
    # is counted, in the measured pass.
    t0 = time.perf_counter()
    for _ in range(GATE_WARMUP_PASSES):
        for name in GATE_PANEL:
            try:
                qs[name](run.spark, sf_dir).collect()
            except Exception:  # noqa: BLE001 - counted in the measured pass
                pass
    res.warmup_s = time.perf_counter() - t0
    t_start = run.start_measuring()
    passes = 0
    while run.more(res.pass_s, t_start):
        _evict_memos(run.spark)
        t_pass, cpu0 = 0.0, run.cpu_s()
        for name in GATE_PANEL:
            times = {}

            def one(name=name, times=times):
                t0 = time.perf_counter()
                with run.span("gates.construct", "registry"):
                    df = qs[name](run.spark, sf_dir)
                t1 = time.perf_counter()
                with run.span("gates.execute", "exec"):
                    rows = df.collect()
                times["c"], times["e"] = t1 - t0, time.perf_counter() - t1
                return df, rows

            dt, out, err = run.timed_unit(f"pass{passes}:{name}", f"gate:{name}", "registry", one)
            res.attempted += 1
            t_pass += dt
            res.op_ms.append(dt * 1000.0)
            if err:
                res.fail(err)
            else:
                construct_s.append(times["c"])
                execute_s.append(times["e"])
                if passes == 0:  # kept for the oracle check, outside the timed unit
                    df, rows = out
                    results[name] = (df.columns, [tuple(r) for r in rows])
        res.pass_s.append(t_pass)
        res.pass_cpu_s.append(run.cpu_s() - cpu0)
        passes += 1
    d = res.detail
    d["gates_total_s"] = (float(np.median(res.pass_s)), "s")
    d["gates"] = (len(GATE_PANEL), "count")
    d["gates.construct_s"] = (sum(construct_s) / passes, "s")
    d["gates.execute_s"] = (sum(execute_s) / passes, "s")
    d["passes"] = (passes, "count")
    _check_gates(run, sf_dir, results)
    d["gates.failed"] = (res.failed, "count")  # every op here is a gate
    return res


def _check_gates(run: Run, sf_dir: str, results: dict) -> None:
    """Each gate's normalized result vs the digest of its DuckDB oracle."""
    import hashlib

    from signalk_parquet_spark import registry
    from tests.oracle_compare import duckdb_conn, normalize_result

    oracles = registry.oracle_sql()
    con = duckdb_conn(sf_dir)

    def digest(cols, rows) -> str:
        return hashlib.sha256(repr(normalize_result(cols, rows)).encode()).hexdigest()

    n = 0
    for name, (cols, rows) in results.items():
        sql = oracles.get(name)
        if sql is None:
            continue
        n += 1
        cur = con.execute(sql)
        want = digest([c[0] for c in cur.description], cur.fetchall())
        if digest(cols, rows) != want:
            run.result.fail(f"gate {name}: result differs from its DuckDB oracle")
    run.result.detail["gates.oracle_checked"] = (n, "count")


WORKLOADS = {
    "history_dashboard": history_dashboard,
    "history_explore": history_explore,
    "lifecycle": lifecycle,
    "gate_suite": gate_suite,
}
