#!/usr/bin/env python3
"""Repository benchmark: end-to-end and per-layer metrics for one workload.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process:

1. makes a private work dir ``.perfbench/<pid>`` (TMPDIR, Spark local dirs,
   warehouse, event log and the generated input tables all live there; it
   is wiped at start and at exit);
2. generates the input tables (fixed content; ``--seed`` permutes the row
   order and generates the serving query set);
3. sets up three times and reports the median as ``setup_s``: each set-up
   starts a new SparkSession on ``local[nproc]``, points the temp dir at
   an empty directory, drops the library's in-process caches and opens
   what the workload reads, building the persisted index it reads.  Only
   the first set-up starts the JVM; the time from the start of the script
   to the end of that set-up, less input generation, is ``cold_start_s``
   (a per-layer metric: one sample per run is too few to bound);
4. checks every output once, outside the timed passes: batch rows against
   their DuckDB ``oracle_sql()`` with the repository's canonicalization
   (``tests/oracle_harness.compare``); serving answers against each other
   and against exact unpruned BM25.  This pass is also the warm-up;
5. runs timed passes until ``--seconds`` have passed and at least two
   passes are done;
6. prints one JSON line: ``correct``, ``attempted``, ``failed``, ``metrics``.

With ``--trace 1`` the metrics are the per-layer ones (see GLOSSARY.md):
the event log is on, half of the measuring time runs untraced passes and
half runs passes with the span wrappers of ``tracing.py`` installed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

#: the start of the script, for cold_start_s
T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_ROUNDS = 3
#: timed passes per run at least, so each row or query has two samples and
#: the pass count does not change with the host's speed
MIN_PASSES = 2
DATA_SEED = 20240101
HEAP_MB = 1024
#: the library's in-process caches, dropped before each set-up so every
#: set-up rebuilds what it reads; a cache that is gone is skipped
LIB_CACHES = {
    "sf_epa_data_ingestion_spark.sources.readers": "_TABLE_CACHE",
    "sf_epa_data_ingestion_spark.operators.search": "_INDEX_CACHE",
    "sf_epa_data_ingestion_spark.operators.similarity": "_VINDEX_CACHE",
    "sf_epa_data_ingestion_spark.streaming.generations": "_MODEL_CACHE",
    "sf_epa_data_ingestion_spark.operators.vocab": "_LIVE_PERSISTS",
}


def _args(argv=None):
    ap = argparse.ArgumentParser(description="perfbench: one workload, one process")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # used by the self-test and the single-threaded reference run only
    ap.add_argument("--scale", type=float, default=1.0, help="input size; 1.0 ~ sf0.01")
    ap.add_argument("--rows", default=None, help="comma list: run only these rows")
    ap.add_argument("--queries", type=int, default=None, help="serving query set size")
    ap.add_argument("--cores", type=int, default=None, help="local[N]; default nproc")
    ap.add_argument("--explain", type=int, choices=(0, 1), default=0,
                    help="serving: record which queries max-score pruning prunes")
    return ap.parse_args(argv)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _reset_peak(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current resident size


def _peak_mb(pids) -> float:
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
    return total


def _no_span(layer: str, name: str):
    return contextlib.nullcontext()


def _error(what, exc: Exception) -> str:
    return f"{what}: {exc.__class__.__name__}: {exc}"


class Bench:
    """Process-wide state: the work dir, the session and the tallies."""

    def __init__(self, a, root: str):
        self.a, self.root = a, root
        self.work = os.path.join(root, ".perfbench", str(os.getpid()))
        self.data = os.path.join(self.work, "data")
        self.cores = a.cores or os.cpu_count() or 1
        self.spark = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.meta: dict = {"loadavg": []}

    def prepare_dirs(self) -> None:
        base = os.path.dirname(self.work)
        if os.path.isdir(base):
            for d in os.listdir(base):  # leftovers of processes that died
                if d.isdigit() and not os.path.exists(f"/proc/{d}"):
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "eventlog", "warehouse", "fixtures"):
            os.makedirs(os.path.join(self.work, d))
        tmp = os.path.join(self.work, "tmp")
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_DRIVER_MEMORY=f"{HEAP_MB}m",
            # Python workers import the library and, when tracing, the
            # span wrappers that UDF bodies may carry
            PYTHONPATH=os.pathsep.join(
                [self.root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
            ),
        )
        tempfile.tempdir = tmp
        sys.path[:0] = [p for p in (self.root, HERE) if p not in sys.path]

    def new_session(self):
        from sf_epa_data_ingestion_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed-size heap: the JVM's resident size does not depend on
            # when it chose to grow the heap, so peak_rss_mb is steady
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP_MB}m -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        }
        if self.a.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.logBlockUpdates.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def fresh_state(self, i: int) -> None:
        """Empty temp dir and no library cache: every persisted index and
        model the workload reads is rebuilt."""
        import importlib

        tmp = os.path.join(self.work, "tmp", f"setup{i}")
        os.makedirs(tmp)
        tempfile.tempdir = tmp
        for mod, attr in LIB_CACHES.items():
            cache = getattr(importlib.import_module(mod), attr, None)
            if hasattr(cache, "clear"):
                cache.clear()

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what[:2000])

    def pids(self) -> list[int]:
        """The driver Python process and the JVM."""
        jvm = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return [os.getpid(), int(jvm)]


class BatchWorkload:
    """A list of ``queries()`` rows, each forced through the noop sink."""

    def __init__(self, bench: Bench, entry, rows: list[str], owners: dict[str, str]):
        self.b, self.entry, self.rows, self.owners = bench, entry, rows, owners
        self.fns = entry.queries()
        self.digests: dict[str, str] = {}

    def setup(self) -> None:
        from sf_epa_data_ingestion_spark.sources import readers

        for t in sorted(os.listdir(self.b.data)):
            readers.load_table(self.b.spark, self.b.data, t[: -len(".parquet")])

    def check(self) -> None:
        """Every row once against its oracle.  DuckDB (and the fixture of
        the generated corpus) runs on a side thread while Spark executes
        the rows, so the check costs about one cold pass."""
        from tests import oracle_harness as oh

        from workloads import digest_rows, oracle_for, write_golden_fixtures

        oracles: dict = {}

        def run_oracles():
            t0 = time.perf_counter()
            fixtures = os.path.join(self.b.work, "fixtures")
            write_golden_fixtures(self.b.data, fixtures, self.rows)
            con = oh.duck_con(self.b.data)
            con.execute("SET threads TO 2")
            repo_fix = os.path.join(self.b.root, "tests", "fixtures")
            try:
                for row in self.rows:
                    sql = oracle_for(self.entry, row, fixtures, repo_fix)
                    try:
                        oracles[row] = None if sql is None else con.execute(sql).df()
                    except Exception as exc:  # noqa: BLE001 - reported as a failed check
                        oracles[row] = exc
            finally:
                con.close()
                self.b.meta["check_oracle_s"] = time.perf_counter() - t0

        side = threading.Thread(target=run_oracles)
        side.start()
        outputs: dict = {}
        row_s = self.b.meta["check_row_s"] = {}
        for row in self.rows:
            t0 = time.perf_counter()
            try:
                outputs[row] = self.fns[row](self.b.spark, self.b.data).toPandas()
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                outputs[row] = exc
            row_s[row] = time.perf_counter() - t0
        side.join()
        for row in self.rows:
            got, want = outputs[row], oracles.get(row)
            if isinstance(got, Exception) or isinstance(want, Exception):
                problems = [_error(row, got if isinstance(got, Exception) else want)]
            elif want is None:
                problems = [f"{row}: no oracle"]
            else:
                self.digests[row] = digest_rows(oh.canonicalize(got))
                problems = oh.compare(_Frame(got), want, row)
            self.b.record(not problems, "; ".join(problems))

    def run_pass(self, span) -> dict[str, float]:
        times = {}
        for row in self.rows:
            t0 = time.perf_counter()
            try:
                with span("entry", row):
                    df = self.fns[row](self.b.spark, self.b.data)
                with span(self.owners[row], f"force:{row}"):
                    df.write.format("noop").mode("overwrite").save()
                self.b.record(True, "")
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                self.b.record(False, _error(row, exc))
            times[row] = time.perf_counter() - t0
        return times

    def end_to_end(self, passes: list[dict[str, float]]) -> dict[str, float]:
        wall = sum(statistics.median(p[r] for p in passes) for r in self.rows)
        # rows differ tenfold in cost, so a percentile over row latencies is
        # the latency of whichever row sits in the middle; the median pass's
        # mean row latency is the typical operation's latency instead
        lat = [1000.0 * sum(p.values()) / len(p) for p in passes]
        return {
            "wall_s": wall,
            "query_p50_ms": statistics.median(lat),
            "batch_qps": len(self.rows) / wall,
        }

    def order(self) -> list[str]:
        return self.rows


class ServingWorkload:
    """Per pass: the next few queries of the set one at a time (closed loop,
    one client), then the whole set in one batch, on one pinned snapshot."""

    def __init__(self, bench: Bench, entry, queries, singles: int):
        self.b, self.entry, self.queries, self.singles = bench, entry, queries, singles
        self.srv = None
        self.next = 0
        self.reference: dict[int, list] = {}
        self.digests: dict[str, str] = {}
        self.query_windows: list[tuple[float, float]] = []

    def setup(self) -> None:
        from workloads import Serving

        self.srv = Serving(self.b.spark, self.entry, self.b.data)

    def _answers(self, rows) -> dict[int, list]:
        return {q: [r for r in rows if r[0] == q] for q, _ in self.queries}

    def check(self) -> None:
        from workloads import digest_rows

        if self.b.a.explain:
            self.b.meta["pruned_queries"] = self.srv.pruned(self.queries)
        exact = self._answers(self.srv.exact(self.queries))
        batch = self._answers(self.srv.batch(self.queries))
        for qid, _ in self.queries:
            self.reference[qid] = exact[qid]
            self.b.record(
                batch[qid] == exact[qid] and len(exact[qid]) > 0,
                f"query {qid}: pruned batch answer differs from exact BM25",
            )
        self.digests = {"bm25": digest_rows(sorted(r for v in exact.values() for r in v))}

    def run_pass(self, span) -> dict:
        lat = []
        for _ in range(self.singles):
            qid, text = self.queries[self.next % len(self.queries)]
            self.next += 1
            t0, w0 = time.perf_counter(), time.time()
            try:
                with span("operators.search", "single_query"):
                    ans = self.srv.single((qid, text))
                self.b.record(ans == self.reference[qid], f"query {qid}: single answer differs")
            except Exception as exc:  # noqa: BLE001 - counted as a failed operation
                self.b.record(False, _error(f"query {qid}", exc))
            lat.append(time.perf_counter() - t0)
            self.query_windows.append((w0, time.time()))
        t0 = time.perf_counter()
        try:
            with span("operators.search", "batch"):
                got = self._answers(self.srv.batch(self.queries))
            for qid, _ in self.queries:
                self.b.record(got[qid] == self.reference[qid], f"query {qid}: batch answer differs")
        except Exception as exc:  # noqa: BLE001 - every query of the batch failed
            for qid, _ in self.queries:
                self.b.record(False, _error(f"batch query {qid}", exc))
        batch_s = time.perf_counter() - t0
        return {"lat": lat, "batch_s": batch_s, "wall_s": sum(lat) + batch_s}

    def end_to_end(self, passes) -> dict[str, float]:
        lat = [x * 1000.0 for p in passes for x in p["lat"]]
        return {
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "query_p50_ms": statistics.median(lat),
            "batch_qps": len(self.queries) / statistics.median(p["batch_s"] for p in passes),
        }

    def order(self) -> list[str]:
        return [text for _, text in self.queries]


class _Frame:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - the pyspark name
        return self.pdf


def _timed(b: Bench, wl, seconds: float, min_passes: int, span=_no_span) -> list:
    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        b.meta["loadavg"].append(_loadavg())
        passes.append(wl.run_pass(span))
    b.meta["loadavg"].append(_loadavg())
    return passes


def run(a, units: dict[str, str]) -> dict:
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "sf_epa_data_ingestion_spark"))
        and os.path.isfile(os.path.join(root, "tests", "oracle_harness.py"))
    ):
        _fail("run from the root of a checkout: __spark_entry__.py, "
              "sf_epa_data_ingestion_spark/ and tests/oracle_harness.py are required")
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}")
    b = Bench(a, root)
    b.prepare_dirs()
    try:
        metrics, detail = _measure(a, b, WORKLOADS[a.workload])
    finally:
        if b.spark is not None:
            b.spark.stop()
        _stop_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(b.work))  # only when no other run uses it
    print(json.dumps({"meta": b.meta, "detail": detail, "problems": b.problems}, default=str))
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in units},
    }


def _measure(a, b: Bench, spec: dict) -> tuple[dict, dict]:
    import datagen
    import pyspark
    from workloads import make_queries, row_order

    t0 = time.perf_counter()
    datagen.generate(b.data, seed=DATA_SEED, scale=a.scale)
    b.meta["datagen_s"] = time.perf_counter() - t0
    import __spark_entry__ as entry

    if "rows" in spec:
        rows = row_order(a.workload, a.seed)
        if a.rows:
            rows = [r for r in rows if r in a.rows.split(",")]
        wl = BatchWorkload(b, entry, rows, spec["rows"])
    else:
        queries = make_queries(b.data, a.seed, a.queries or spec["queries"])
        wl = ServingWorkload(b, entry, queries, spec["singles_per_pass"])

    setups, tracer = [], None
    for i in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        b.new_session()
        if a.trace and i == SETUP_ROUNDS - 1:
            from tracing import Tracer

            # the last set-up is traced: index builds and snapshot pins
            tracer = Tracer(b.spark)
            tracer.install(entry)
            setup_lo = time.time()
        b.fresh_state(i)
        wl.setup()
        setups.append(time.perf_counter() - t0)
        if i == 0:
            cold_start = time.perf_counter() - T_START - b.meta["datagen_s"]
    if tracer is not None:
        tracer.setup_window = (setup_lo, time.time())
    b.meta.update(
        nproc=os.cpu_count(), master=b.spark.sparkContext.master,
        pyspark=pyspark.__version__, git_sha=_git_sha(b.root),
        setup_rounds_s=setups, workload=a.workload, seed=a.seed,
    )
    t0 = time.perf_counter()
    wl.check()  # the warm-up pass; traced when tracing, so digests compare
    b.meta["check_s"] = time.perf_counter() - t0
    detail = {"digests": wl.digests, "order": wl.order()}

    if not a.trace:
        pids = b.pids()
        _reset_peak(pids)
        passes = _timed(b, wl, a.seconds, MIN_PASSES)
        detail.update(passes=len(passes), pass_s=passes)
        return {
            **wl.end_to_end(passes),
            "setup_s": statistics.median(setups),
            "peak_rss_mb": _peak_mb(pids),
            "ok_ratio": 1.0 - b.failed / max(b.attempted, 1),
        }, detail

    tracer.uninstall()
    plain = _timed(b, wl, a.seconds / 2, 1)
    tracer.install(entry)
    windows = getattr(wl, "query_windows", [])
    windows.clear()
    t_lo = time.time()
    traced = _timed(b, wl, a.seconds / 2, 1, tracer.span)
    t_hi = time.time()
    tracer.window = (t_lo, t_hi)
    tracer.uninstall()
    b.spark.stop()  # flushes the event log
    b.spark = None
    metrics = tracer.summarize(os.path.join(b.work, "eventlog"), t_hi - t_lo)
    metrics["cold_start_s"] = cold_start
    metrics["trace.overhead_ratio"] = wl.end_to_end(traced)["wall_s"] / wl.end_to_end(plain)["wall_s"]
    metrics.update(tracer.per_window(windows, "query"))
    detail.update(
        traced_wall_s=t_hi - t_lo, self_s=tracer.self_s(), layer_jobs=tracer.layer_jobs,
        passes=[len(plain), len(traced)],
    )
    return metrics, detail


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _git_sha(root: str):
    """HEAD of the checkout, or None where it is not a git work tree."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, env=env,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    args = _args()
    try:
        units = _units()
    except (OSError, ValueError, KeyError) as exc:
        _fail(f"cannot read BENCHMARK.json: {exc}")
    print(json.dumps(run(args, units)))
