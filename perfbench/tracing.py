"""Per-layer attribution measured from outside the library.

``Tracer.install()`` wraps the public functions of each layer module, and
the public methods of the storage and serving classes, in spans.  A span
records its layer, name, parent and wall interval, and sets
``spark.job.description`` to ``perfbench|<layer>|<span id>`` while it is
open, so every Spark job is charged to the innermost open span.
Micro-batch jobs of a streaming query carry Spark's own description and
are charged to the ``streaming`` layer.  A job is attributed only when it
lands on a named layer of the repository (``NAMED_LAYERS``): a job under
the benchmark's own ``entry`` span (work the entry module does itself)
or with no span at all is unattributed.  Nothing in the library is
edited: ``uninstall()`` puts every original function back.

``summarize()`` joins the spans with the Spark event log (jobs, tasks,
stage accumulables, final SQL plans, block updates and streaming
progress events) and returns the per-layer metrics named in
``BENCHMARK.json``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import threading
import time

#: layer name -> module, in the package's own module names.
LAYERS = {
    "sources": ["sf_epa_data_ingestion_spark.sources.readers"],
    "plans": [
        "sf_epa_data_ingestion_spark.plans.epa_views",
        "sf_epa_data_ingestion_spark.plans.normalize",
        "sf_epa_data_ingestion_spark.plans.pipeline",
    ],
    "partitioning": ["sf_epa_data_ingestion_spark.partitioning"],
    "storage.txlog": ["sf_epa_data_ingestion_spark.storage.txlog"],
    "storage.txindex": ["sf_epa_data_ingestion_spark.storage.txindex"],
    "streaming": [
        f"sf_epa_data_ingestion_spark.streaming.{m}"
        for m in (
            "dedup events freshness generations ingest joins neardup "
            "profilemon semdedup stateful txsink vectorindex"
        ).split()
    ],
    **{
        f"operators.{m}": [f"sf_epa_data_ingestion_spark.operators.{m}"]
        for m in (
            "relational mutate dedup similarity search cleaning vocab "
            "quality_model analytics asof multimodal profiling rangejoin sampling"
        ).split()
    },
}
#: the layers a job may be attributed to: the repository's modules, the
#: Python-function boundary and the persisted-index builds
NAMED_LAYERS = frozenset(LAYERS) | {"functions", "index"}
OPERATOR_LAYERS = (
    "relational mutate dedup similarity search cleaning vocab"
).split()
#: classes whose public methods are spans of their module's layer.
CLASSES = {
    "storage.txlog": ["TxTable"],
    "storage.txindex": ["TxSearchSnapshot"],
}
TXLOG_WRITES = set(
    "create create_empty append stage_for_append commit_staged overwrite "
    "restore_to merge compact delete_where replace_where update_where vacuum "
    "set_constraint drop_constraint set_bloom drop_bloom".split()
)
PINS = {"load_tx_search_index"}
PREFIX = "perfbench|"
_MB = 1024.0 * 1024.0

#: the active tracer; None in Python workers and when tracing is off, so a
#: wrapped function shipped to a worker inside a UDF just calls through.
ACTIVE = None


class Span:
    __slots__ = ("sid", "parent", "layer", "name", "t0", "t1", "child_s")

    def __init__(self, sid, parent, layer, name):
        self.sid, self.parent, self.layer, self.name = sid, parent, layer, name
        self.t0, self.t1, self.child_s = time.time(), None, 0.0

    @property
    def dur(self) -> float:
        return (self.t1 or time.time()) - self.t0


def _enter(layer: str, name: str):
    tr = ACTIVE
    if tr is None or threading.get_ident() != tr.thread:
        return None
    return tr.push(layer, name)


def _exit(span) -> None:
    if span is not None and ACTIVE is not None:
        ACTIVE.pop(span)


def _wrap(fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        span = _enter(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            _exit(span)

    traced.__perfbench_original__ = fn
    return traced


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.thread = threading.get_ident()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        #: (kind, time, files added) of each txlog commit and cache request
        self.marks: list[tuple[str, float, int]] = []
        self._patched: list[tuple[object, str, object]] = []
        self.window = (0.0, 0.0)
        self.setup_window = (0.0, 0.0)

    # -- spans -------------------------------------------------------------

    def push(self, layer: str, name: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(len(self.spans), parent.sid if parent else None, layer, name)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty("spark.job.description", f"{PREFIX}{layer}|{span.sid}")
        return span

    def pop(self, span: Span) -> None:
        span.t1 = time.time()
        while self.stack and self.stack[-1] is not span:
            self.stack.pop()  # unwound by an exception further down
        if self.stack:
            self.stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.dur
        top = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(
            "spark.job.description", f"{PREFIX}{top.layer}|{top.sid}" if top else None
        )

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        s = self.push(layer, name)
        try:
            yield s
        finally:
            self.pop(s)

    # -- install / uninstall -------------------------------------------------

    def _patch(self, owner, attr: str, layer: str, name: str) -> None:
        orig = owner.__dict__[attr]
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, _wrap(orig, layer, name))

    def install(self, entry_module) -> None:
        global ACTIVE
        for layer, mods in LAYERS.items():
            for mname in mods:
                mod = importlib.import_module(mname)
                for attr, obj in list(vars(mod).items()):
                    if (
                        not attr.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__
                    ):
                        self._patch(mod, attr, layer, attr)
                for cname in CLASSES.get(layer, ()):
                    cls = getattr(mod, cname, None)
                    if cls is None or cls.__module__ != mod.__name__:
                        continue
                    for attr, obj in list(vars(cls).items()):
                        if not attr.startswith("_") and inspect.isfunction(obj):
                            self._patch(cls, attr, layer, f"{cname}.{attr}")
        self._count_commits()
        self._count_persists()
        self._count_index_builds(entry_module)
        ACTIVE = self

    def uninstall(self) -> None:
        global ACTIVE
        ACTIVE = None
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.sc.setLocalProperty("spark.job.description", None)

    def _count_commits(self) -> None:
        """Every txlog commit goes through one ``CommitProtocol.publish``."""
        from sf_epa_data_ingestion_spark.storage import txlog

        tracer = self
        for cls in (txlog.PosixLinkCommit, txlog.ConditionalPutCommit):
            orig = cls.__dict__.get("publish")
            if orig is None:
                continue

            def publish(self_, path, payload, _orig=orig):
                _orig(self_, path, payload)
                if ACTIVE is tracer:
                    added = json.loads(payload).get("add") or []
                    tracer.marks.append(("commit", time.time(), len(added)))

            self._patched.append((cls, "publish", orig))
            cls.publish = publish

    def _count_persists(self) -> None:
        # the concrete class of this session's frames (PySpark's classic
        # DataFrame overrides these methods of the public base class)
        DataFrame = type(self.spark.range(1))  # noqa: N806
        tracer = self
        for attr in ("persist", "cache", "localCheckpoint"):
            orig = DataFrame.__dict__[attr]

            def counted(self_, *a, _orig=orig, **kw):
                if ACTIVE is tracer:
                    tracer.marks.append(("persist", time.time(), 0))
                return _orig(self_, *a, **kw)

            self._patched.append((DataFrame, attr, orig))
            setattr(DataFrame, attr, functools.wraps(orig)(counted))

    def _count_index_builds(self, entry) -> None:
        """``_materialized_dir(sf_dir, table, tag, build)`` is the one
        build-or-reuse point of every persisted index and model."""
        orig = entry.__dict__.get("_materialized_dir")
        if orig is None:
            return
        tracer = self

        def materialized_dir(sf_dir, table, tag, build):
            def traced_build(tmp):
                with tracer.span("index", f"build:{tag}"):
                    return build(tmp)

            return orig(sf_dir, table, tag, traced_build)

        self._patched.append((entry, "_materialized_dir", orig))
        entry._materialized_dir = materialized_dir

    # -- summary -------------------------------------------------------------

    def summarize(self, event_log_dir: str, wall_s: float) -> dict[str, float]:
        spans = self._in(self.window)
        ev = _EventLog(event_log_dir, *self.window)
        m: dict[str, float] = {}

        by_id = {s.sid: s for s in spans}
        layer_jobs, unattributed, total_job_s = attribute(ev.jobs.values(), by_id)

        self_s = self.self_s()
        calls: dict[str, int] = {}
        for s in spans:
            calls[s.layer] = calls.get(s.layer, 0) + 1
        lo, hi = self.window
        marks = [(kind, n) for kind, t, n in self.marks if lo <= t <= hi]

        m["driver_s"] = max(wall_s - ev.job_union_s, 0.0)
        m["spark.jobs"] = len(ev.jobs)
        m["spark.tasks"] = ev.tasks
        m["spark.task_run_s"] = ev.task_run_s
        m["spark.task_cpu_s"] = ev.task_cpu_s
        m["spark.task_gc_s"] = ev.task_gc_s
        m["spark.shuffle_read_mb"] = ev.shuffle_read_b / _MB
        m["spark.shuffle_write_mb"] = ev.shuffle_write_b / _MB
        m["spark.spill_mb"] = ev.spill_b / _MB
        m["spark.exchanges"] = ev.exchanges
        m["spark.job_s"] = total_job_s
        m["unattributed.job_s"] = unattributed
        m["trace.attributed_share"] = 1.0 - unattributed / total_job_s if total_job_s else 1.0
        m["sources.calls"] = calls.get("sources", 0)
        m["sources.self_s"] = self_s.get("sources", 0.0)
        for op in OPERATOR_LAYERS:
            agg = layer_jobs.get(f"operators.{op}", {})
            m[f"operators.{op}.jobs"] = agg.get("jobs", 0)
            m[f"operators.{op}.job_s"] = agg.get("job_s", 0.0)
            m[f"operators.{op}.task_cpu_s"] = agg.get("cpu_s", 0.0)
            m[f"operators.{op}.shuffle_write_mb"] = agg.get("sw_mb", 0.0)
        m["functions.python_mb"] = ev.python_b / _MB
        m["cache.persists"] = sum(1 for kind, _ in marks if kind == "persist")
        m["cache.peak_mb"] = ev.cache_peak_b / _MB

        def outermost(pred):
            total = 0.0
            for s in spans:
                if not pred(s):
                    continue
                p = by_id.get(s.parent)
                while p is not None and not pred(p):
                    p = by_id.get(p.parent)
                if p is None:
                    total += s.dur
            return total

        is_txlog = lambda s: s.layer == "storage.txlog"  # noqa: E731
        m["storage.txlog.commits"] = sum(1 for kind, _ in marks if kind == "commit")
        m["storage.txlog.commit_s"] = outermost(
            lambda s: is_txlog(s) and s.name.split(".")[-1] in TXLOG_WRITES
        )
        m["storage.txlog.read_s"] = outermost(
            lambda s: is_txlog(s) and s.name.split(".")[-1] not in TXLOG_WRITES
        )
        m["storage.txlog.files_written"] = sum(n for kind, n in marks if kind == "commit")
        # set-up work is counted over the last (traced) set-up
        setup = self._in(self.setup_window)
        pins = [s for s in spans + setup if s.name in PINS]
        m["storage.txindex.pins"] = len(pins)
        m["storage.txindex.load_s"] = sum(s.dur for s in pins)
        for k, v in ev.streaming.items():
            m[f"streaming.{k}"] = v
        builds = [s for s in spans + setup if s.layer == "index"]
        m["index.builds"] = len(builds)
        m["index.build_s"] = sum(s.dur for s in builds)
        self.layer_jobs = layer_jobs
        self.events = ev
        return m


    def _in(self, window) -> list[Span]:
        lo, hi = window
        return [s for s in self.spans if s.t1 is not None and s.t0 >= lo and s.t1 <= hi]

    def self_s(self) -> dict[str, float]:
        """Self time per layer over the traced window."""
        out: dict[str, float] = {}
        for s in self._in(self.window):
            out[s.layer] = out.get(s.layer, 0.0) + max(s.dur - s.child_s, 0.0)
        return out

    def per_window(self, windows, prefix: str) -> dict[str, float]:
        """Median Spark jobs, driver time and task CPU of one request, each
        request being a wall interval; call after ``summarize``."""
        n, drv, cpu = [0], [0.0], [0.0]
        if windows:
            n, drv, cpu = [], [], []
            jobs = list(self.events.jobs.values())
            for w0, w1 in windows:
                mine = [j for j in jobs if w0 <= j["t0"] <= w1]
                n.append(len(mine))
                busy = _union([(j["t0"], min(j["t1"], w1)) for j in mine])
                drv.append(((w1 - w0) - busy) * 1000.0)
                cpu.append(sum(j["cpu_s"] for j in mine) * 1000.0)
        return {
            f"{prefix}.jobs": statistics.median(n),
            f"{prefix}.driver_ms": statistics.median(drv),
            f"{prefix}.task_cpu_ms": statistics.median(cpu),
        }


def attribute(jobs, spans: dict[int, Span]):
    """Charge each job to a layer.  A job names its span in its
    description (``perfbench|<layer>|<span id>``); a micro-batch job
    carries Spark's own label and goes to ``streaming``.  Jobs on a layer
    outside ``NAMED_LAYERS`` (the benchmark's ``entry`` span) or with no
    span are unattributed.  Returns ({layer: {jobs, job_s, cpu_s, sw_mb}},
    unattributed job seconds, total job seconds)."""
    layer_jobs: dict[str, dict[str, float]] = {}
    unattributed = total = 0.0
    for job in jobs:
        desc = job["desc"] or ""
        layer = None
        if desc.startswith(PREFIX):
            try:
                span = spans.get(int(desc.rsplit("|", 1)[1]))
            except ValueError:
                span = None
            layer = span.layer if span is not None else None
        elif "\nrunId = " in desc:
            layer = "streaming"
        total += job["dur"]
        if layer not in NAMED_LAYERS:
            unattributed += job["dur"]
            continue
        agg = layer_jobs.setdefault(layer, {"jobs": 0, "job_s": 0.0, "cpu_s": 0.0, "sw_mb": 0.0})
        agg["jobs"] += 1
        agg["job_s"] += job["dur"]
        agg["cpu_s"] += job["cpu_s"]
        agg["sw_mb"] += job["sw_mb"]
    return layer_jobs, unattributed, total


class _EventLog:
    """Aggregates of one Spark event log, restricted to jobs submitted in
    the [t_lo, t_hi] wall window (epoch seconds)."""

    STREAM_KEYS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")

    def __init__(self, log_dir: str, t_lo: float, t_hi: float):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks = 0
        self.task_run_s = self.task_cpu_s = self.task_gc_s = 0.0
        self.shuffle_read_b = self.shuffle_write_b = self.spill_b = 0
        self.python_b = 0
        self.exchanges = 0
        self.cache_peak_b = 0
        self.streaming = {
            "batches": 0, **{f"{k}_ms": 0.0 for k in self.STREAM_KEYS},
            "state.update_ms": 0.0, "state.commit_ms": 0.0, "state.rows": 0,
        }
        plans: dict[int, dict] = {}
        blocks: dict[str, int] = {}
        cached = 0
        lo_ms, hi_ms = t_lo * 1000.0, t_hi * 1000.0
        paths = [p for p in glob.glob(f"{log_dir}/**", recursive=True) if os.path.isfile(p)]
        for path in sorted(paths):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        t = e.get("Submission Time", 0)
                        if not lo_ms <= t <= hi_ms:
                            continue
                        props = e.get("Properties") or {}
                        self.jobs[e["Job ID"]] = {
                            "t0": t / 1000.0, "t1": None, "dur": 0.0,
                            "desc": props.get("spark.job.description"),
                            "cpu_s": 0.0, "sw_mb": 0.0,
                        }
                        for sid in e.get("Stage IDs", []):
                            stage_job.setdefault(sid, e["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        job = self.jobs.get(e["Job ID"])
                        if job is not None:
                            job["t1"] = e["Completion Time"] / 1000.0
                            job["dur"] = job["t1"] - job["t0"]
                    elif kind == "SparkListenerTaskEnd":
                        job = self.jobs.get(stage_job.get(e.get("Stage ID"), -1))
                        tm = e.get("Task Metrics")
                        if job is None or not tm:
                            continue
                        self.tasks += 1
                        cpu = tm.get("Executor CPU Time", 0) / 1e9
                        sw = tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                        sr = tm.get("Shuffle Read Metrics", {})
                        self.task_run_s += tm.get("Executor Run Time", 0) / 1000.0
                        self.task_cpu_s += cpu
                        self.task_gc_s += tm.get("JVM GC Time", 0) / 1000.0
                        self.shuffle_write_b += sw
                        self.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        self.spill_b += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        job["cpu_s"] += cpu
                        job["sw_mb"] += sw / _MB
                    elif kind == "SparkListenerStageCompleted":
                        info = e.get("Stage Info", {})
                        if stage_job.get(info.get("Stage ID"), -1) not in self.jobs:
                            continue
                        for acc in info.get("Accumulables", []):
                            if acc.get("Name") == "data sent to Python workers":
                                self.python_b += int(acc.get("Value") or 0)
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        if lo_ms <= e.get("time", 0) <= hi_ms:
                            plans[e["executionId"]] = e.get("sparkPlanInfo", {})
                    elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        if e["executionId"] in plans:
                            plans[e["executionId"]] = e.get("sparkPlanInfo", {})
                    elif kind == "SparkListenerBlockUpdated":
                        info = e.get("Block Updated Info", {})
                        bid = str(info.get("Block ID", ""))
                        if not bid.startswith("rdd_"):
                            continue
                        size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
                        cached += size - blocks.get(bid, 0)
                        blocks[bid] = size
                        self.cache_peak_b = max(self.cache_peak_b, cached)
                    elif kind.endswith("QueryProgressEvent"):
                        p = e.get("progress", {})
                        if not lo_ms <= _iso_ms(p.get("timestamp")) <= hi_ms:
                            continue
                        st = self.streaming
                        st["batches"] += 1
                        d = p.get("durationMs", {})
                        for k in self.STREAM_KEYS:
                            st[f"{k}_ms"] += d.get(k, 0)
                        for op in p.get("stateOperators", []):
                            st["state.update_ms"] += op.get("allUpdatesTimeMs", 0)
                            st["state.commit_ms"] += op.get("commitTimeMs", 0)
                            st["state.rows"] += op.get("numRowsUpdated", 0)
        for job in self.jobs.values():
            if job["t1"] is None:
                job["t1"], job["dur"] = job["t0"], 0.0
        self.exchanges = sum(_count_exchanges(p) for p in plans.values())
        self.job_union_s = _union([(j["t0"], j["t1"]) for j in self.jobs.values()])


def _iso_ms(ts) -> float:
    if not ts:
        return 0.0
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _count_exchanges(info: dict) -> int:
    own = 1 if info.get("nodeName") in ("Exchange", "BroadcastExchange") else 0
    return own + sum(_count_exchanges(c) for c in info.get("children", []))


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
