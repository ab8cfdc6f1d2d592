"""Traced run: splits each workload's time across emiproc_spark's layers.

Spans are recorded from the benchmark's side, at calls into each layer's
public functions: every public top-level function of
``emiproc_spark.sources.*``, ``emiproc_spark.operators.<module>``,
``emiproc_spark.exports.*`` and ``emiproc_spark.streaming.*`` is wrapped
(in every ``emiproc_spark`` namespace that imported it) for the traced
passes only.  A span's self time is its duration minus its child spans;
its jobs are the Spark jobs started while it was innermost.

Spark-side numbers come from Spark's own status stores, which work with
the UI off, read right after each operation because they keep only the
last 1000 jobs and SQL executions:

- ``StatusTracker`` by job group (each operation runs in its own group;
  micro-batches run in their stream's run-id group): jobs, stages,
  tasks, failed tasks;
- the SQL status store's executions: shuffle bytes written, fetch wait,
  spill, execution time, and the Python-worker metrics (time to
  start/initialize/run Python workers, data sent/returned);
- a ``StreamingQueryListener``: micro-batches, their durations, commit
  time and state rows.

The run interleaves untraced and traced passes (U T T U U T ...), so
tracing overhead is the difference of their median pass times.  Time and count metrics are
medians over traced passes of per-pass sums.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import re
import statistics
import sys
import threading
import time

import run as _run

OPERATOR_MODULES = [
    "basic", "regrid", "temporal", "quality", "similarity", "dedup",
    "retrieval", "text", "joins", "stats",
]
LAYER_PREFIXES = {
    "emiproc_spark.sources": "sources",
    "emiproc_spark.exports": "exports",
    "emiproc_spark.streaming": "streaming",
}
SQL_METRICS = {
    "shuffle bytes written": "spark.shuffle_bytes",
    "fetch wait time": "spark.fetch_wait_s",
    "spill size": "spark.spill_bytes",
    "time to run Python workers": "functions.py_run_s",
    "time to start Python workers": "functions.py_start_s",
    "time to initialize Python workers": "functions.py_start_s",
    "data sent to Python workers": "functions.py_bytes",
    "data returned from Python workers": "functions.py_bytes",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric value → bytes, seconds or a count.
    Aggregated task metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def layer_of(module: str) -> str | None:
    if module.startswith("emiproc_spark.operators."):
        name = module.rsplit(".", 1)[1]
        return f"operators.{name if name in OPERATOR_MODULES else 'other'}"
    for prefix, layer in LAYER_PREFIXES.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in table order."""
    names = [
        "session.start_s", "driver_queries.build_s", "driver_queries.exec_s",
        "driver_queries.eager_jobs", "spark.jobs", "spark.stages",
        "spark.tasks", "spark.failed_tasks", "spark.shuffle_bytes",
        "spark.fetch_wait_s", "spark.spill_bytes", "spark.action_s",
        "functions.py_run_s", "functions.py_start_s", "functions.py_bytes",
        "sources.self_s",
    ]
    for m in OPERATOR_MODULES + ["other"]:
        names += [f"operators.{m}.self_s", f"operators.{m}.jobs"]
    names += [
        "exports.self_s", "exports.bytes_written", "streaming.self_s",
        "streaming.batches", "streaming.batch_p50_ms", "streaming.commit_ms",
        "streaming.state_rows", "spark.speedup_nc_over_1c",
        "trace.overhead_s", "trace.untraced_pass_s", "trace.traced_pass_s",
        "rss.drift_mb",
    ]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("speedup_nc_over_1c"):
        return "ratio"
    return "count"


class _Span:
    """Callable stand-in for a layer function.  Pickles as the original
    function (looked up by module and name), so a wrapped function that
    ends up inside a UDF reaches the workers untraced."""

    def __init__(self, tracer: "Tracer", fn, layer: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._fn, args, kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    """Layer spans plus the Spark status-store readers for one session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        # the scheduler's job counter (py4j reads the AtomicInteger's value)
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.acc: dict[str, float] = {}
        self.progress: list = []
        self.run_ids: set[str] = set()
        self.terminated: set[str] = set()
        self._last_exec = -1

    # -- layer spans -----------------------------------------------------
    def call(self, layer, fn, args, kwargs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        frame = [0.0, 0]  # child seconds, child jobs
        stack.append(frame)
        j0 = self._dag.nextJobId()
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            jobs = self._dag.nextJobId() - j0
            stack.pop()
            if stack:
                stack[-1][0] += dt
                stack[-1][1] += jobs
            self.add(f"{layer}.self_s", dt - frame[0])
            if layer.startswith("operators."):
                self.add(f"{layer}.jobs", jobs - frame[1])

    def install(self) -> None:
        wrapped: dict[int, _Span] = {}
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, fn in vars(mod).items():
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == name):
                    wrapped[id(fn)] = _Span(self, fn, layer)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("emiproc_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                span = wrapped.get(id(val))
                if span is not None and span._fn is val:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, span)

    def uninstall(self) -> None:
        for mod, attr, val in self._patches:
            setattr(mod, attr, val)
        self._patches.clear()

    def add(self, key: str, v: float) -> None:
        with self._lock:
            self.acc[key] = self.acc.get(key, 0.0) + v

    def drain_listener(self, timeout: float = 10.0) -> None:
        """Wait until every stream started so far has reported its
        termination; the listener bus is ordered, so its progress events
        have arrived too."""
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            with self._lock:
                if self.run_ids <= self.terminated:
                    return
            time.sleep(0.01)

    # -- status stores ---------------------------------------------------
    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def read_jobs(self, groups: list[str]) -> None:
        st = self.sc.statusTracker()
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                self.add("spark.jobs", 1)
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    if s is not None:
                        self.add("spark.stages", 1)
                        self.add("spark.tasks", s.numTasks)
                        self.add("spark.failed_tasks", s.numFailedTasks)

    def mark_executions(self) -> None:
        self._last_exec = self._tail_execution()

    def _tail_execution(self) -> int:
        n = self._store.executionsCount()
        return self._store.executionsList(n - 1, 1).head().executionId() if n else -1

    def read_executions(self) -> None:
        """Every SQL execution that started since ``mark_executions``
        (execution ids are consecutive, and the store is id-ordered)."""
        n = self._store.executionsCount()
        k = min(self._tail_execution() - self._last_exec, n)
        if k <= 0:
            return
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        for e in conv.asJava(self._store.executionsList(n - k, k)):
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            done = e.completionTime()
            if done.isDefined():
                self.add("spark.action_s", (done.get().getTime() - e.submissionTime()) / 1e3)
            wanted = {}
            for m in str(e.metrics().mkString("\u0001")).split("\u0001"):
                # SQLPlanMetric(name,accumulatorId,metricType)
                parts = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if len(parts) == 3 and parts[0] in SQL_METRICS:
                    wanted[parts[1]] = SQL_METRICS[parts[0]]
            if not wanted:
                continue
            # Map[Long, String] rendered as "accumulatorId -> value" entries
            for entry in str(self._store.executionMetrics(eid).mkString("\u0001")).split("\u0001"):
                acc, _, text = entry.partition(" -> ")
                if acc in wanted:
                    self.add(wanted[acc], parse_metric(text))
        self.mark_executions()


def _listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            with tracer._lock:
                tracer.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            state = sum(s.numRowsTotal for s in p.stateOperators)
            commit = d.get("walCommit", 0) + d.get("commitOffsets", 0) + sum(
                s.commitTimeMs for s in p.stateOperators
            )
            with tracer._lock:
                tracer.progress.append(
                    (str(p.runId), d.get("triggerExecution", 0), commit, state)
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with tracer._lock:
                tracer.terminated.add(str(event.runId))

    return Progress()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class _Probe:
    """Per-operation build hook for a traced pass."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.group = None
        self.build_s = 0.0

    @contextlib.contextmanager
    def build(self):
        t0 = time.perf_counter()
        yield
        self.build_s = time.perf_counter() - t0
        self.tracer.add("driver_queries.build_s", self.build_s)
        self.tracer.add("driver_queries.eager_jobs", len(self.tracer.group_jobs(self.group)))


class _OpHooks:
    """Reads the status stores right after each traced operation."""

    def __init__(self, tracer: Tracer, probe: _Probe, watch: list[str]):
        self.tracer, self.probe, self.watch = tracer, probe, watch

    def start(self, name: str) -> None:
        self.probe.group = self.tracer.sc.getLocalProperty("spark.jobGroup.id")
        self.probe.build_s = 0.0
        self.runs_before = set(self.tracer.run_ids)
        self.bytes_before = sum(_dir_bytes(d) for d in self.watch)

    def end(self, name: str, dt: float) -> None:
        t = self.tracer
        if self.probe.build_s:
            t.add("driver_queries.exec_s", dt - self.probe.build_s)
        t.read_jobs([self.probe.group] + sorted(t.run_ids - self.runs_before))
        t.read_executions()
        t.add("exports.bytes_written", sum(_dir_bytes(d) for d in self.watch) - self.bytes_before)


def traced_run(spark, wl, inputs, args, bad, base_views, session_s: float) -> dict:
    """Interleave untraced and traced passes for ``args.seconds`` (and at
    least U T T U), then time one untraced pass on a 1-core session."""
    tracer = Tracer(spark)
    listener = _listener(tracer)
    watch = [os.environ["SPARK_GRAFT_SCRATCH"], wl.output_dir(inputs)]
    probe = _Probe(tracer)
    hooks = _OpHooks(tracer, probe, watch)
    lat_all, passes, failed = [], {"untraced": [], "traced": []}, 0
    per_pass: list[dict[str, float]] = []
    rss: list[float] = []
    n_prog = 0
    t_run = time.perf_counter()
    p = 0
    while (time.perf_counter() - t_run < args.seconds
           or len(passes["untraced"]) < 2 or len(passes["traced"]) < 2):
        traced = p % 4 in (1, 2)  # U T T U U T ...: warm-up drift hits both sides
        if traced:
            tracer.acc = {}
            tracer.mark_executions()
            spark.streams.addListener(listener)
            tracer.install()
        try:
            r = _run.run_pass(
                spark, wl, inputs, args.seed, p, bad, base_views,
                probe if traced else _run._NoProbe(), hooks if traced else None,
            )
        finally:
            if traced:
                tracer.uninstall()
                tracer.drain_listener()
                spark.streams.removeListener(listener)
        if r is None:
            break
        lat, f = r
        lat_all += lat
        failed += f
        pass_s = sum(dt for _, dt in lat)
        passes["traced" if traced else "untraced"].append(pass_s)
        rss.append(_run.peak_rss_mb(spark))
        if traced:
            with tracer._lock:
                prog = tracer.progress[n_prog:]
                n_prog = len(tracer.progress)
            acc = dict(tracer.acc)
            acc["streaming.batches"] = len(prog)
            acc["streaming.state_rows"] = _final_state_rows(prog)
            per_pass.append(acc)
        p += 1

    speedup = one_core_speedup(spark, wl, inputs, args, p, bad, passes["untraced"])
    names = metric_names()
    out: dict[str, float] = {}
    for n in names:
        vals = [pp.get(n, 0.0) for pp in per_pass]
        out[n] = statistics.median(vals) if vals else 0.0
    batch_ms = [b for _, b, _, _ in tracer.progress]
    commit_ms = [c for _, _, c, _ in tracer.progress]
    out["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    out["streaming.commit_ms"] = statistics.median(commit_ms) if commit_ms else 0.0
    out["session.start_s"] = session_s
    out["spark.speedup_nc_over_1c"] = speedup
    out["trace.untraced_pass_s"] = statistics.median(passes["untraced"])
    out["trace.traced_pass_s"] = statistics.median(passes["traced"])
    out["trace.overhead_s"] = out["trace.traced_pass_s"] - out["trace.untraced_pass_s"]
    out["rss.drift_mb"] = rss[-1] - rss[0] if rss else 0.0
    return {
        "lat": lat_all,
        "passes": passes["untraced"] + passes["traced"],
        "failed": failed,
        "rss_per_pass": rss,
        "per_layer": {n: {"value": out[n], "unit": unit_of(n)} for n in names},
    }


def _final_state_rows(prog: list) -> float:
    last: dict[str, float] = {}
    for run_id, _, _, state in prog:
        last[run_id] = state
    return float(sum(last.values()))


def one_core_speedup(spark, wl, inputs, args, p, bad, nc_passes) -> float:
    """Median multi-core pass time vs one pass on a ``local[1]`` session
    (warmed first): > 1 means the cores are used."""
    spark.stop()
    one = _run.start_session(master="local[1]")
    try:
        _run.warm_up(one)
        wl.bind(one)
        base = {t.name for t in one.catalog.listTables() if t.isTemporary}
        r = _run.run_pass(one, wl, inputs, args.seed, p, bad, base, _run._NoProbe())
    finally:
        one.stop()
    if r is None or not nc_passes:
        return 0.0
    return sum(dt for _, dt in r[0]) / statistics.median(nc_passes)


def print_table(workload: str, metrics: dict, result: dict) -> None:
    print(f"# per-layer ({workload}; medians over traced passes of per-pass sums)")
    for name, m in metrics.items():
        print(f"#   {name:34s} {m['value']:14.4f} {m['unit']}")
    print("#   peak_rss_mb after each pass: "
          + " ".join(f"{v:.0f}" for v in result["rss_per_pass"]))
