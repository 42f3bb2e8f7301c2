#!/usr/bin/env python
"""Benchmark the engine's query suite.

Runs every ``queries()`` entry from ``__spark_entry__`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line to stdout:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<5 slowest>: sec, ...}, "sf": 0.1}

The full per-query timing map is written to ``BENCH_LOCAL.json`` (committed)
and echoed to stderr — the driver captures only the final ~2000 chars of
stdout, and an 87-query map overflows that window (BENCH_r04 lost its
headline total this way), so stdout carries just the summary.

Each query is forced end-to-end with the ``noop`` sink so the full physical
plan executes (a bare ``count()`` would let Catalyst prune projections and
under-report the work).

Every row is timed over ``K`` cold runs (``queries`` holds the min,
``queries_median`` the median), then run once more under the span
wrappers of ``perfbench/tracing.py``. The session writes its Spark event
log to a private temp dir, parsed once after ``spark.stop()``; each
row's ``breakdown`` splits that traced run into driver time (wall time
no Spark job covers), jobs, task CPU, job seconds per library layer
(``row``: jobs issued outside any library span, e.g. the noop sink
forcing a lazy plan) and index builds. ``tools/probe_query.py`` and
``tools/scale_check.py`` time their rows with the same ``time_rows``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.join(REPO, "perfbench")
sys.path[:0] = [REPO, PERFBENCH]

import __spark_entry__ as entrymod  # noqa: E402
import tracing  # noqa: E402
from sf_epa_data_ingestion_spark.session import get_spark  # noqa: E402

#: cold runs per row; the traced run comes on top
K = 3


#: Deep-quiet thresholds for the opt-in cooldown wait (r15): the
#: refusal gate's single 1-min sample under the default bound of 4.0
#: admits a box still draining a prior suite's threads — at the r15
#: close, four quiet-GATED sf0.1 runs measured 109.5/112.0/114.9/104.0 s
#: and the 104.0 came only after waiting for 1-min < 0.5 AND
#: 5-min < 1.5 by hand.
DEEP_QUIET_1MIN = 0.5
DEEP_QUIET_5MIN = 1.5


def _loadavg(path: str | None = None) -> tuple[float, float] | None:
    """(1-min, 5-min) loadavg, or None if unreadable. The path is
    overridable via SPARK_GRAFT_LOADAVG_PATH so the gate/cooldown tests
    can stage a fake file instead of needing a controllable /proc."""
    path = path or os.environ.get("SPARK_GRAFT_LOADAVG_PATH", "/proc/loadavg")
    try:
        with open(path) as f:
            parts = f.read().split()
            return float(parts[0]), float(parts[1])
    except (OSError, ValueError, IndexError):
        return None


def _loadavg1() -> float | None:
    la = _loadavg()
    return None if la is None else la[0]


def _run_cold(spark, fn, sf_dir) -> tuple[float, float]:
    """Force one row through the noop sink; returns its (start, end)
    epoch window, the clock the event log uses."""
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    t1 = time.time()
    # Isolate queries: drop persisted intermediates (several operators
    # persist() shared subtrees) so every timing is against a cold
    # cache and the heap doesn't accumulate a suite's worth of blocks.
    spark.catalog.clearCache()
    # clearCache() only covers SQL-cached plans; localCheckpoint()
    # blocks (the iterative ops: connected_components, ivf k-means)
    # are plain persisted RDDs that survive it and pile up across a
    # suite — unpersist whatever is still materialized.
    try:
        jsc = spark.sparkContext._jsc
        for rdd_id in list(jsc.getPersistentRDDs().keySet().toArray()):
            jsc.sc().unpersistRDD(int(str(rdd_id)), False)
    except Exception:
        pass  # diagnostics-only hygiene; never fail the bench over it
    return t0, t1


def _breakdown(tracer, untraced: list[float], window) -> dict:
    """Where the traced run's wall time went, from the parsed event log."""
    w0, w1 = window
    jobs = [j for j in tracer.events.jobs.values() if w0 <= j["t0"] <= w1]
    layers, own_s, _ = tracing.attribute(jobs, {s.sid: s for s in tracer.spans})
    req = tracer.per_window([window], "row")
    builds = [
        s for s in tracer.spans
        if s.layer == "index" and s.t1 is not None and w0 <= s.t0 and s.t1 <= w1
    ]
    return {
        "traced_s": round(w1 - w0, 3),
        "trace_ratio": round((w1 - w0) / statistics.median(untraced), 3),
        "driver_s": round(req["row.driver_ms"] / 1000.0, 3),
        "jobs": req["row.jobs"],
        "task_cpu_s": round(req["row.task_cpu_ms"] / 1000.0, 3),
        "job_s": {
            **{k: round(v["job_s"], 3) for k, v in sorted(layers.items())},
            "row": round(own_s, 3),
        },
        "index_builds": len(builds),
        "index_build_s": round(sum(s.dur for s in builds), 3),
    }


def time_rows(plan, runs: int = K, app_name: str = "bench") -> tuple[dict, str]:
    """Time each ``(key, fn, sf_dir)`` of ``plan`` on one session: ``runs``
    cold runs, then one traced run. Returns ``({key: {"runs", "min",
    "median", "breakdown"}}, master)``."""
    log_dir = tempfile.mkdtemp(prefix="bench-events-")
    # Python workers import the library and the span wrappers that UDF
    # bodies may carry, as perfbench/run.py sets it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, PERFBENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        spark = get_spark(
            app_name=app_name,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        master = spark.sparkContext.master
        warm_sf = plan[0][2]
        # Warm the JVM + parquet footers once so per-query numbers measure
        # the queries, not session startup ...
        entrymod.q_filter_project(spark, warm_sf).write.format("noop").mode("overwrite").save()
        # ... and the machinery the scan warmup doesn't touch: the Arrow
        # mapInPandas/pandas_udf path and the shuffle+window codepaths get
        # their JIT/codegen warmup here instead of inside the first heavy
        # query's measurement.
        entrymod.q_multimodal_meta(spark, warm_sf).write.format("noop").mode("overwrite").save()
        entrymod.q_window_dedup_latest(spark, warm_sf).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        tracer = tracing.Tracer(spark)
        measured = {}
        for key, fn, sf_dir in plan:
            untraced = [t1 - t0 for t0, t1 in (_run_cold(spark, fn, sf_dir) for _ in range(runs))]
            tracer.install(entrymod)
            try:
                window = _run_cold(spark, fn, sf_dir)
            finally:
                tracer.uninstall()
            measured[key] = (untraced, window)
            print(f"  {key}: {min(untraced):.3f}s", file=sys.stderr, flush=True)
        spark.stop()  # flushes the event log

        windows = [w for _, w in measured.values()]
        tracer.window = (min(w[0] for w in windows), max(w[1] for w in windows))
        tracer.summarize(log_dir, tracer.window[1] - tracer.window[0])
        rows = {
            key: {
                "runs": [round(t, 3) for t in untraced],
                "min": round(min(untraced), 3),
                "median": round(statistics.median(untraced), 3),
                "breakdown": _breakdown(tracer, untraced, window),
            }
            for key, (untraced, window) in measured.items()
        }
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    return rows, master


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # Echo the core-count contract in the artifact AND the one-line
    # summary (r15 VERDICT next-round #2): the driver's scaling check
    # compared an 8-core and a 32-core run whose outputs were
    # indistinguishable and concluded `suspect_cpus_ignored` — the env
    # IS honored (session.py builds master=local[$SPARK_GRAFT_CPUS]),
    # but nothing in stdout said so. `cpus`/`master` make the knob's
    # effect legible; `fixed_cost_bound_rows` below names the rows whose
    # traced run is mostly driver time, which an 8-vs-32 ratio near 1
    # does NOT contradict.
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # Quiet-box gate (r13 VERDICT next-round #4): two same-tree sf1 runs
    # moved 198->222 s purely on host load, and adjudicating that cost a
    # round of driver-vs-builder argument. The artifact now RECORDS a
    # start-of-suite loadavg verdict against a bound; a close-of-round
    # run sets SPARK_GRAFT_REQUIRE_QUIET=1 and the bench REFUSES to
    # produce a committable artifact on a busy box — up front, before
    # burning a suite's worth of wall-clock. The gate samples BEFORE any
    # Spark work starts: loadavg measured mid-suite is dominated by the
    # bench's own 32 threads and says nothing about external steal.
    load_bound_raw = os.environ.get("SPARK_GRAFT_LOAD_BOUND", "4.0")
    try:
        load_bound = float(load_bound_raw)
    except ValueError:
        # r14 ADVICE: a malformed env value must follow the gate's own
        # structured-JSON error contract, not crash with a traceback.
        print(
            json.dumps(
                {
                    "error": "malformed SPARK_GRAFT_LOAD_BOUND (not a float)",
                    "value": load_bound_raw,
                }
            ),
            flush=True,
        )
        sys.exit(2)

    # Opt-in bounded deep-cooldown (r15): SPARK_GRAFT_COOLDOWN_SECS > 0
    # polls loadavg (15 s period) until BOTH 1-min < DEEP_QUIET_1MIN and
    # 5-min < DEEP_QUIET_5MIN, or the budget runs out; the artifact
    # records the wait either way so a close number's provenance is
    # explicit. Runs BEFORE the refusal gate: a wait that never achieves
    # deep quiet still leaves the gate to pass its own verdict on
    # whatever load remains.
    cooldown_block = None
    cd_raw = os.environ.get("SPARK_GRAFT_COOLDOWN_SECS", "0")
    try:
        cooldown_secs = float(cd_raw)
    except ValueError:
        print(
            json.dumps(
                {
                    "error": "malformed SPARK_GRAFT_COOLDOWN_SECS "
                    "(not a number)",
                    "value": cd_raw,
                }
            ),
            flush=True,
        )
        sys.exit(2)
    if cooldown_secs > 0:
        cd_t0 = time.monotonic()
        deadline = cd_t0 + cooldown_secs
        achieved = False
        while True:
            la = _loadavg()
            if (
                la is not None
                and la[0] < DEEP_QUIET_1MIN
                and la[1] < DEEP_QUIET_5MIN
            ):
                achieved = True
                break
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                break
            time.sleep(min(15.0, remaining))
        cooldown_block = {
            "requested_s": cooldown_secs,
            "waited_s": round(time.monotonic() - cd_t0, 1),
            "achieved": achieved,
            "thresholds": [DEEP_QUIET_1MIN, DEEP_QUIET_5MIN],
        }

    la_start = _loadavg1()
    # three-valued: True (measured quiet), False (measured busy), None
    # (loadavg unreadable) — conflating unknown with busy would make the
    # committed artifact claim the box was measurably loaded when the
    # load was simply unmeasurable
    quiet = None if la_start is None else la_start <= load_bound
    if os.environ.get("SPARK_GRAFT_REQUIRE_QUIET") == "1" and quiet is not True:
        print(
            json.dumps(
                {
                    "error": (
                        "box not quiet for a close-of-round artifact"
                        if quiet is False
                        else "loadavg unreadable; cannot certify a "
                        "close-of-round artifact"
                    ),
                    "loadavg_start": la_start,
                    "bound": load_bound,
                }
            ),
            flush=True,
        )
        sys.exit(2)

    qs = entrymod.queries()
    rows, master = time_rows([(name, fn, sf_dir) for name, fn in qs.items()])
    timings = {name: r["min"] for name, r in rows.items()}
    breakdown = {name: r["breakdown"] for name, r in rows.items()}
    job_s = sum(sum(b["job_s"].values()) for b in breakdown.values())
    own_s = sum(b["job_s"]["row"] for b in breakdown.values())
    trace = {
        "attributed_share": round(1.0 - own_s / job_s, 3) if job_s else None,
        "traced_over_untraced": round(
            sum(b["traced_s"] for b in breakdown.values())
            / sum(r["median"] for r in rows.values()),
            3,
        ),
    }
    # Rows whose traced run is mostly driver time (Catalyst planning,
    # py4j, txlog commits, state checkpoints) rather than Spark jobs: a
    # core-scaling sweep cannot move these, so an 8-vs-32-core ratio
    # near 1 on them is expected, not evidence the core knob is ignored.
    fixed_cost_bound = sorted(
        name for name, b in breakdown.items() if b["driver_s"] > 0.5 * b["traced_s"]
    )

    total = round(sum(timings.values()), 3)
    # Like-for-like anchor: the suite GROWS round over round (76 queries
    # in r3, 99 by r8), so the headline total is not comparable across
    # rounds by itself. `r3_subset_total` sums only the queries that were
    # actually timed in round 3's suite — derived from BENCH_r03.json's
    # recorded query map, NOT a hand-maintained exclusion list (the frozen
    # list drifted by r8: 11 post-r3 queries leaked 21.9 s into the
    # "r3-comparable" number and masked a real 0.74x->0.60x improvement).
    try:
        with open(os.path.join(REPO, "BENCH_r03.json")) as f:
            r3_queries = set(json.load(f)["parsed"]["queries"])
    except (OSError, KeyError, TypeError, json.JSONDecodeError):
        r3_queries = None
    subset = (round(sum(v for k, v in timings.items() if k in r3_queries), 3)
              if r3_queries else None)
    r3_missing = sorted(r3_queries - set(timings)) if r3_queries else []
    full = {
        "metric": "suite_wall_clock",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "cpus": cpus_env,
        "master": master,
        "r3_subset_total": subset,
        "r3_subset_n": len(r3_queries & set(timings)) if r3_queries else 0,
        "r3_missing_from_suite": r3_missing,
        "queries": timings,
        "queries_median": {name: r["median"] for name, r in rows.items()},
        "runs": {name: r["runs"] for name, r in rows.items()},
        "breakdown": breakdown,
        "trace": trace,
        "fixed_cost_bound_rows_at_this_sf": fixed_cost_bound,
        "sf": sf,
        "quiet_box": {
            "loadavg_start": la_start,
            "bound": load_bound,
            "quiet": quiet,
            "gated": os.environ.get("SPARK_GRAFT_REQUIRE_QUIET") == "1",
            "cooldown": cooldown_block,
        },
    }
    # The driver stores only the LAST 2000 chars of stdout, and the full
    # per-query map is ~3000 chars — round 4's headline total was lost to
    # the tail capture (`parsed: null` in BENCH_r04). Write the full
    # document to BENCH_LOCAL.json, print it for human runs, then print a
    # compact summary (headline fields + the 5 slowest queries) as the
    # FINAL stdout line so the driver's tail always parses.
    # the canonical sf0.1 run owns BENCH_LOCAL.json; other scales (the
    # sf1 sweep) write their own artifact instead of clobbering it
    if sf == 0.1:
        out_name = "BENCH_LOCAL.json"
    else:
        tag = f"{int(sf)}" if sf == int(sf) else f"{sf:g}".replace(".", "_")
        out_name = f"BENCH_SF{tag}_LOCAL.json"
    try:
        with open(os.path.join(REPO, out_name), "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps(full), file=sys.stderr, flush=True)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "suite_wall_clock",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "cpus": cpus_env,
                "master": master,
                "r3_subset_total": subset,
                "sf": sf,
                "queries": slowest,
                "queries_note": "5 slowest of n_queries; full map in BENCH_LOCAL.json",
                "fixed_cost_bound_rows_at_this_sf": fixed_cost_bound,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
