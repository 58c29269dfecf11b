"""Shared pytest fixtures: one SparkSession per test run, and one run
of the restart recovery probe; and a per-file time summary at the end
of the run."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from chronobase_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="chronobase-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_frame(spark):
    """``smoke_frame(name)``: registered query ``name`` built over the
    smoke corpus on first request and shared for the rest of the run.
    Iterative queries (BPE training, dup clustering) execute driver-side
    rounds just to produce their DataFrame, so each full-registry build
    costs minutes. Only for tests that read a frame's schema or initial
    plan: executing an adaptive frame replaces its plan with the final
    one, so a test that executes a query builds its own."""
    from chronobase_spark import queries

    built = {}

    def frame(name):
        if name not in built:
            built[name] = queries.queries()[name](spark, SF_SMOKE)
        return built[name]

    return frame


@pytest.fixture(scope="session")
def restart_probe():
    """The JSON verdict of scripts/restart_composed_recovery_probe.py,
    run once per test session and shared by the restart tests. A
    subprocess because a genuinely fresh catalog needs a new
    SparkContext: newSession() shares SharedState. Each test asserts
    its own keys, so a failed check fails the test that owns it."""
    import json
    import subprocess

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "restart_composed_recovery_probe.py"),
            "--cpus", "4",
        ],
        capture_output=True,
        text=True,
        timeout=540,
        cwd=REPO,
    )
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        pytest.fail(f"restart probe printed no verdict:\n{proc.stdout}{proc.stderr}")


def pytest_terminal_summary(terminalreporter):
    """Per test file, the summed setup, call and teardown seconds,
    slowest first, so a change in the suite's wall time can be traced
    to a file. A session fixture's setup counts toward the file of the
    first test that requests it."""
    secs: dict[str, float] = {}
    for reports in terminalreporter.stats.values():
        for r in reports:
            if getattr(r, "when", None) in ("setup", "call", "teardown"):
                path = r.nodeid.split("::")[0]
                secs[path] = secs.get(path, 0.0) + r.duration
    if not secs:
        return
    terminalreporter.write_sep("-", "seconds per test file (setup + call + teardown)")
    for path, s in sorted(secs.items(), key=lambda kv: -kv[1]):
        terminalreporter.write_line(f"{s:9.1f}  {path}")
