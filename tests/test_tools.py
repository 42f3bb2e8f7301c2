"""Smoke tests for the repo's gate tools (they guard the grading loop, so
they get the same regression protection as operators)."""

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args):
    return subprocess.run(
        [sys.executable, f"{REPO}/tools/check_freshness.py", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
    )


def test_check_freshness_passes_for_the_prepared_round():
    r = _run()
    assert r.returncode == 0, r.stdout + r.stderr
    assert "fresh at round" in r.stdout


def test_check_freshness_fails_when_grading_rounds_are_skipped():
    # With the self-ordering registry a single missed round self-heals
    # (the stale block simply heads the next window), so the gate only
    # goes red on a REAL evidence gap: MAX_STALE consecutive rounds with
    # no grading leaves the freshest block >MAX_STALE rounds old and
    # outside the derived window. The probe round is DERIVED from the
    # files on disk (r12 VERDICT #1: a hardcoded `14` encoded "two
    # skipped rounds" only at the r11 tree — the moment the driver
    # dropped CORRECTNESS_r12.json it meant ONE skipped round, which the
    # gate correctly absorbs, and the assertion went stale).
    sys.path.insert(0, REPO)
    from sf_epa_data_ingestion_spark.registry import MAX_STALE, graded_rounds

    probe = max(graded_rounds(REPO)) + MAX_STALE + 1
    r = _run(str(probe))
    assert r.returncode == 1, r.stdout + r.stderr
    assert f"STALE at round {probe}" in r.stdout


def test_rotation_would_survive_the_next_round_gate():
    """Simulate MAX_STALE+1 future rounds, each crediting the
    dynamically derived window: if the registry exceeded capacity or an
    ordering bug stranded a query, some simulated round goes red TODAY
    rather than at a future pre-round checklist."""
    r = _run("--assume-window-green")
    assert r.returncode == 0, r.stdout + r.stderr
    assert "fresh at round" in r.stdout


def test_gate_green_at_the_post_grading_round_boundary(tmp_path):
    """The r8–r10 repeat offender: the gate must stay green AFTER the
    driver drops the new CORRECTNESS file, with no manual reordering.
    Replay that state: copy the real CORRECTNESS history, synthesize the
    next round's file crediting exactly the CURRENT derived window, and
    require the gate (and its forward simulation) to pass against it."""
    sys.path.insert(0, REPO)
    from sf_epa_data_ingestion_spark.registry import (
        WINDOW,
        graded_rounds,
        last_green_rounds,
        stalest_first,
    )

    for p in __import__("glob").glob(f"{REPO}/CORRECTNESS_r*.json"):
        shutil.copy(p, tmp_path)
    last = last_green_rounds(str(tmp_path))
    rnd = max(graded_rounds(str(tmp_path))) + 1
    names = _registry_names()
    window = stalest_first(names, last)[:WINDOW]
    synthetic = {
        q: {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
        for q in window
    }
    (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(synthetic))

    r = _run("--repo", str(tmp_path))
    assert r.returncode == 0, r.stdout + r.stderr
    r = _run("--repo", str(tmp_path), "--assume-window-green")
    assert r.returncode == 0, r.stdout + r.stderr


def test_zero_slack_warning_fires_on_window_displacement(tmp_path):
    """r14 VERDICT next-round #1: registry churn that displaces a graded
    row from the window must WARN at the round that created the hazard
    (rc stays 0 — the state is legal, just slack-free). Fabricate it:
    52 rows graded r1, 48 graded r2 — at r3 the window takes 50 of the
    52 age-2 rows and the 2 lexically-last sit outside at exactly
    max_stale."""
    names = sorted(_registry_names())
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({q: green for q in names[:52]}))
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({q: green for q in names[52:]}))

    r = _run("--repo", str(tmp_path))
    assert r.returncode == 0, r.stdout + r.stderr
    displaced = names[50:52]  # stalest_first tiebreak is name order
    for q in displaced:
        assert f"WARN zero-slack: {q} (age 2)" in r.stdout, r.stdout
    assert r.stdout.count("WARN zero-slack") == 2
    assert "fresh at round 3" in r.stdout


def test_overdue_rescued_warning_fires_past_the_stale_line(tmp_path):
    """A row aged PAST max_stale is green only because stalest_first
    leads the window with it — that rescue must be loud. Fabricate the
    r14 churn outcome: 2 rows last graded r1, everything else r2/r3;
    at r4 the two are age 3 > max_stale and head the window."""
    names = sorted(_registry_names())
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({q: green for q in names[:2]}))
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({q: green for q in names[2:52]}))
    (tmp_path / "CORRECTNESS_r3.json").write_text(
        json.dumps({q: green for q in names[52:]}))

    r = _run("--repo", str(tmp_path))
    assert r.returncode == 0, r.stdout + r.stderr
    for q in names[:2]:
        assert f"WARN overdue-rescued: {q} (age 3" in r.stdout, r.stdout
    assert r.stdout.count("WARN overdue-rescued") == 2


def test_no_warnings_in_the_steady_state(tmp_path):
    """The alternating 50/50 rotation (every row age 1 or 2, the age-2
    half exactly the window) is the designed steady state — the
    warnings must stay silent there or they become noise."""
    names = sorted(_registry_names())
    green = {"rows_match": True, "schema_match": True,
             "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({q: green for q in names[:50]}))
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({q: green for q in names[50:]}))

    r = _run("--repo", str(tmp_path))
    assert r.returncode == 0, r.stdout + r.stderr
    assert "WARN" not in r.stdout


def _registry_names():
    # import the GATE'S OWN parse (not a copy of its regex): the test
    # must pin what check_freshness actually checks, so a drift in the
    # tool's parse fails here instead of silently checking the wrong
    # membership
    sys.path.insert(0, f"{REPO}/tools")
    from check_freshness import registry_names

    return registry_names()


def test_source_parse_matches_real_registry_and_order_is_stalest_first():
    """Pin the gate's import-light source parse against the real
    queries() dict, and the dict's order against the shared ordering
    function — if either drifts, the gate would silently check the
    wrong thing."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from sf_epa_data_ingestion_spark.registry import (
        last_green_rounds,
        stalest_first,
    )

    parsed = _registry_names()
    real = list(entry.queries().keys())
    assert sorted(parsed) == sorted(real)
    expected = stalest_first(parsed, last_green_rounds(REPO))
    assert real == expected


def test_bench_refuses_close_artifact_on_busy_box():
    """r14 quiet-box gate: with SPARK_GRAFT_REQUIRE_QUIET=1 and a bound
    the current box cannot meet, bench.py must refuse BEFORE starting
    any Spark work (exit 2, structured error on stdout) — a committed
    close artifact produced on a loaded box is exactly the
    driver-vs-builder ambiguity the gate exists to end."""
    import os

    # SF dir pointed at a path that cannot exist (r14 ADVICE): if the
    # gate ever regresses past the refusal, bench.py fails FAST on the
    # missing data dir instead of starting Spark and timing out this
    # test at 60 s.
    env = {**os.environ,
           "SPARK_GRAFT_REQUIRE_QUIET": "1",
           "SPARK_GRAFT_LOAD_BOUND": "-1.0",
           "SPARK_GRAFT_SF_DIR": "/nonexistent/sf0.1"}
    r = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=60,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    doc = json.loads(r.stdout.strip().splitlines()[-1])
    assert doc["error"].startswith("box not quiet")
    assert doc["bound"] == -1.0  # unmeetable: loadavg is never negative


def test_bench_rejects_malformed_load_bound_with_structured_error():
    """r14 ADVICE: a malformed SPARK_GRAFT_LOAD_BOUND must produce the
    gate's structured-JSON error + exit 2, not an uncaught ValueError
    traceback."""
    import os

    env = {**os.environ,
           "SPARK_GRAFT_LOAD_BOUND": "not-a-float",
           "SPARK_GRAFT_SF_DIR": "/nonexistent/sf0.1"}
    r = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=60,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    doc = json.loads(r.stdout.strip().splitlines()[-1])
    assert "malformed SPARK_GRAFT_LOAD_BOUND" in doc["error"]
    assert doc["value"] == "not-a-float"
    assert "Traceback" not in r.stderr


def test_bench_cooldown_gives_up_at_deadline_then_gate_refuses(tmp_path):
    """r15 deep-cooldown: on a box that never reaches deep quiet, the
    bounded wait must give up at the deadline and hand off to the
    refusal gate — the wait must never bypass the gate's verdict. The
    fake loadavg file (SPARK_GRAFT_LOADAVG_PATH) pins the load the
    gate sees."""
    import os

    fake = tmp_path / "loadavg"
    fake.write_text("9.00 9.00 9.00 1/100 1\n")
    env = {**os.environ,
           "SPARK_GRAFT_REQUIRE_QUIET": "1",
           "SPARK_GRAFT_COOLDOWN_SECS": "1",
           "SPARK_GRAFT_LOADAVG_PATH": str(fake),
           "SPARK_GRAFT_SF_DIR": "/nonexistent/sf0.1"}
    r = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=60,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    doc = json.loads(r.stdout.strip().splitlines()[-1])
    assert doc["error"].startswith("box not quiet")
    assert doc["loadavg_start"] == 9.0  # gate read the staged file


def test_bench_cooldown_returns_immediately_on_deep_quiet_box(tmp_path):
    """r15 deep-cooldown: a box already below both thresholds
    (1-min < 0.5, 5-min < 1.5) must not wait out the budget. A 300 s
    budget with a deep-quiet staged loadavg must clear the gate and
    fail on the nonexistent SF dir well before the budget elapses —
    proving the poll loop exits on the threshold check, not the
    deadline."""
    import os
    import time as _time

    fake = tmp_path / "loadavg"
    fake.write_text("0.10 0.90 1.00 1/100 1\n")
    env = {**os.environ,
           "SPARK_GRAFT_REQUIRE_QUIET": "1",
           "SPARK_GRAFT_COOLDOWN_SECS": "300",
           "SPARK_GRAFT_LOADAVG_PATH": str(fake),
           "SPARK_GRAFT_SF_DIR": "/nonexistent/sf0.1"}
    t0 = _time.monotonic()
    r = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=240,
    )
    elapsed = _time.monotonic() - t0
    # past the gate (no refusal), into the run, dead on the missing dir
    assert r.returncode != 0
    assert "box not quiet" not in r.stdout
    assert elapsed < 200, f"cooldown appears to have waited: {elapsed:.0f}s"


def test_bench_rejects_malformed_cooldown_secs_with_structured_error():
    """r15 deep-cooldown follows the gate's structured-error contract
    for malformed env values (the r14 ADVICE pattern)."""
    import os

    env = {**os.environ,
           "SPARK_GRAFT_COOLDOWN_SECS": "soon",
           "SPARK_GRAFT_SF_DIR": "/nonexistent/sf0.1"}
    r = subprocess.run(
        [sys.executable, f"{REPO}/bench.py"],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=60,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    doc = json.loads(r.stdout.strip().splitlines()[-1])
    assert "malformed SPARK_GRAFT_COOLDOWN_SECS" in doc["error"]
    assert doc["value"] == "soon"
    assert "Traceback" not in r.stderr


def _checkout_files():
    return {
        os.path.join(d, f)
        for d, _, files in os.walk(REPO)
        if ".git" not in d.split(os.sep) and "__pycache__" not in d.split(os.sep)
        for f in files
    }


def test_row_timer_breaks_rows_down_from_the_event_log(tmp_path):
    """The bench row timer (through tools/probe_query.py) gives every row
    K cold runs, their min and median, and the breakdown of one traced
    run parsed from the session's event log; merge_upsert_tx's txlog
    commits show up as storage.txlog job time. The event log and every
    other file the run writes stay out of the checkout."""
    import bench

    before = _checkout_files()
    env = {**os.environ, "TMPDIR": str(tmp_path),
           "SPARK_GRAFT_CPUS": "2", "SPARK_DRIVER_MEMORY": "1g"}
    r = subprocess.run(
        [sys.executable, f"{REPO}/tools/probe_query.py", "filter_project",
         "merge_upsert_tx", "--sf", "/root/testdata/sf0.001", "--n", str(bench.K)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    rows = json.loads(r.stdout.strip().splitlines()[-1])
    assert sorted(rows) == ["filter_project", "merge_upsert_tx"]
    for row in rows.values():
        assert len(row["runs"]) == bench.K
        assert row["min"] == min(row["runs"])
        assert row["min"] <= row["median"] <= max(row["runs"])
        b = row["breakdown"]
        assert 0 <= b["driver_s"] <= b["traced_s"]
        assert b["jobs"] > 0
    assert rows["merge_upsert_tx"]["breakdown"]["job_s"]["storage.txlog"] > 0
    assert _checkout_files() == before
    assert not any(p.startswith("bench-events-") for p in os.listdir(tmp_path))
