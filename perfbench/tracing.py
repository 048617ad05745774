"""Per-layer tracing for the benchmark.

Everything here lives outside the engine: spans are opened by wrapping
the public functions of engine modules from the benchmark process,
Spark jobs are attributed to spans through SparkContext local
properties, and task counters are read afterwards from Spark's own
event log. Nothing is recorded unless a :class:`Tracer` is enabled.

- **Spans** record (id, parent, layer, name, start, end, op). A
  layer's self time is its span time minus the time its child spans
  cover.
- **Jobs** carry ``perfbench.span`` / ``perfbench.op`` local
  properties, so the event log says which span started each job.
- **Catalyst** phase times come from each executed query's
  ``QueryPlanningTracker``, delivered by a ``QueryExecutionListener``.
- **py4j** round trips are counted by wrapping the gateway client's
  ``send_command``.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"

#: engine modules whose public functions are wrapped, by layer
LAYER_MODULES = {
    "catalog": ["mfdb_hafro_etl_spark.catalog"],
    "suite.fixtures": ["mfdb_hafro_etl_spark.suite.fixtures"],
    "plans": [
        "mfdb_hafro_etl_spark.plans.stations",
        "mfdb_hafro_etl_spark.plans.ldist",
        "mfdb_hafro_etl_spark.plans.landings",
        "mfdb_hafro_etl_spark.plans.shrimp",
    ],
    "operators": ["mfdb_hafro_etl_spark.operators.dedup"],
    "api": ["mfdb_hafro_etl_spark.api"],
    "sinks": ["mfdb_hafro_etl_spark.sinks.tables", "mfdb_hafro_etl_spark.sinks"],
    "streaming": ["mfdb_hafro_etl_spark.streaming.jobs", "mfdb_hafro_etl_spark.streaming"],
}

#: py4j calls slower than this are waiting on Spark jobs, not on the
#: round trip itself
PY4J_ROUND_TRIP_S = 0.05

#: RDD scope names of operators that run Python code in executors
PYTHON_SCOPES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonRDD",
)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.sc = None
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._local = threading.local()
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.catalyst_ms = defaultdict(float)
        self.result_bytes = 0

    # ------------------------------------------------------------ spans
    def _set_prop(self, key: str, value) -> None:
        self._local.internal = True
        try:
            self.sc.setLocalProperty(key, None if value is None else str(value))
        finally:
            self._local.internal = False

    def span(self, layer: str, name: str):
        return _Span(self, layer, name)

    def op(self, kind: str):
        return _Op(self, kind)

    def collect(self, df):
        """Materialize ``df`` on the driver through Arrow, in a
        ``transfer`` span."""
        with self.span("transfer", "toArrow"):
            tab = df.toArrow()
        if self.enabled:
            self.result_bytes += tab.nbytes
        return tab

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        traced.__perfbench_wrapped__ = True
        return traced

    def instrument(self) -> None:
        """Wrap every public function of the LAYER_MODULES modules, so
        calls through the module attribute (including the engine's own
        ``module.fn(...)`` calls) open a span of that layer."""
        import importlib

        for layer, names in LAYER_MODULES.items():
            for mod_name in names:
                mod = importlib.import_module(mod_name)
                for attr, fn in list(vars(mod).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(fn)
                        or getattr(fn, "__perfbench_wrapped__", False)
                        or fn.__module__ not in names
                    ):
                        continue
                    setattr(mod, attr, self.wrap(layer, fn))

    # ------------------------------------------------------------- py4j
    def count_py4j(self, gateway_client) -> None:
        """Count py4j round trips and their time. Only outermost calls
        count, and a call's time only when it returns within
        PY4J_ROUND_TRIP_S: longer calls block on Spark jobs, whose time
        the job and task metrics already hold."""
        send = gateway_client.send_command

        def counted(*args, **kwargs):
            local = self._local
            if not self.enabled or getattr(local, "internal", False) or getattr(local, "depth", 0):
                return send(*args, **kwargs)
            local.depth = 1
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                local.depth = 0
                dt = time.perf_counter() - t0
                self.py4j_calls += 1
                if dt < PY4J_ROUND_TRIP_S:
                    self.py4j_s += dt

        gateway_client.send_command = counted

    # --------------------------------------------------------- catalyst
    def listen_catalyst(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        tracer = self

        class _Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                if not tracer.enabled:
                    return
                tracer._local.internal = True
                try:
                    phases = qe.tracker().phases()
                    for phase in ("analysis", "optimization", "planning"):
                        opt = phases.get(phase)
                        if opt.isDefined():
                            tracer.catalyst_ms[phase] += float(opt.get().durationMs())
                finally:
                    tracer._local.internal = False

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._listener = _Listener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self, spark) -> None:
        """Wait until Spark's listener bus has delivered every event."""
        self._local.internal = True
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
        finally:
            self._local.internal = False

    # ---------------------------------------------------------- summary
    def layer_times(self) -> dict:
        """Self time per layer, summed over the recorded spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += max(0.0, s["t1"] - s["t0"] - child[s["id"]])
        return out

    def unattributed_ratio(self) -> float:
        """Share of traced op wall time that no top-level span covers."""
        wall = covered = 0.0
        tops = defaultdict(list)
        for s in self.spans:
            if s["top"]:
                tops[s["op"]].append((s["t0"], s["t1"]))
        for op in self.ops:
            wall += op["t1"] - op["t0"]
            end = op["t0"]
            for t0, t1 in sorted(tops[op["id"]]):
                t0 = max(t0, end)
                if t1 > t0:
                    covered += t1 - t0
                    end = t1
        return (wall - covered) / wall if wall else 0.0


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.t, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        self.rec = {
            "id": len(t.spans),
            "parent": t._stack[-1] if t._stack else None,
            "top": not t._stack,
            "layer": self.layer,
            "name": self.name,
            "op": t._op["id"] if t._op else None,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        t._set_prop(SPAN_PROP, f"{self.rec['id']}:{self.layer}")
        self.rec["t0"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled or not hasattr(self, "rec"):
            return False
        self.rec["t1"] = time.perf_counter()
        t._stack.pop()
        parent = t.spans[t._stack[-1]] if t._stack else None
        t._set_prop(SPAN_PROP, f"{parent['id']}:{parent['layer']}" if parent else None)
        return False


class _Op:
    def __init__(self, tracer: Tracer, kind: str) -> None:
        self.t, self.kind = tracer, kind

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        t._op = {"id": len(t.ops), "kind": self.kind}
        t._set_prop(OP_PROP, t._op["id"])
        t._op["t0"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.t
        if t.enabled and t._op is not None:
            t._op["t1"] = time.perf_counter()
            t.ops.append(t._op)
            t._op = None
            t._set_prop(OP_PROP, None)
        return False


def read_event_log(path: str, layer_of_span) -> dict:
    """Sum task, job and stage counters of the jobs that carry an
    ``perfbench.op`` property in one Spark event log."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    python_stages: set[int] = set()
    tot = defaultdict(float)
    with open(path) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if OP_PROP not in props:
                continue
            span = props.get(SPAN_PROP)
            jobs[ev["Job ID"]] = {
                "layer": span.split(":", 1)[1] if span else None,
                "t0": ev["Submission Time"],
                "t1": ev["Submission Time"],
            }
            for sid in ev["Stage IDs"]:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_job:
                tot["stages"] += 1
                scopes = " ".join(
                    (r.get("Scope") or "") + " " + (r.get("Name") or "")
                    for r in info.get("RDD Info", [])
                )
                if any(p in scopes for p in PYTHON_SCOPES):
                    python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tot["tasks"] += 1
            if info.get("Failed"):
                tot["failed_tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            tot["task_run_s"] += run_ms / 1e3
            tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            dur = info["Finish Time"] - info["Launch Time"]
            tot["scheduler_delay_s"] += max(
                0,
                dur - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0),
            ) / 1e3
            sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            if ev["Stage ID"] in python_stages:
                tot["python_udf_s"] += run_ms / 1e3
    tot["jobs"] = len(jobs)
    for j in jobs.values():
        layer = layer_of_span(j["layer"])
        if layer is not None:
            tot[f"{layer}.eager_jobs"] += 1
            tot[f"{layer}.eager_s"] += (j["t1"] - j["t0"]) / 1e3
    return tot


def descendants(root_pid: int) -> list[tuple[int, str, int]]:
    """(pid, command name, depth below ``root_pid``) of every process
    below ``root_pid``, from /proc."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, _, rest = stat.rpartition(")")
        children[int(rest.split()[1])].append((int(entry), head.partition("(")[2]))
    out, todo = [], [(pid, comm, 0) for pid, comm in children[root_pid]]
    while todo:
        pid, comm, depth = todo.pop()
        out.append((pid, comm, depth))
        todo.extend((c, n, depth + 1) for c, n in children[pid])
    return out


def proc_tree_rss_mb(root_pid: int) -> float:
    """RSS of the JVM this process started plus every Python worker
    below it, in MB. Other descendants are skipped: a process the JVM
    forks shows the JVM's pages until it execs."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid, comm, depth in descendants(root_pid):
        if comm.startswith("python") or (comm == "java" and depth == 0):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * page
            except OSError:
                pass
    return total / (1 << 20)


def host_cpu() -> list[int]:
    """The machine's cumulative CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine between
    two :func:`host_cpu` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """One thread sampling the process tree's RSS every ``period`` s."""

    def __init__(self, period: float = 0.05) -> None:
        self.period, self.peak = period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, proc_tree_rss_mb(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False
