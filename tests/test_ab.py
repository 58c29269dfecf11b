"""The verdict rule of scripts/ab.py on synthetic paired runs, and its
handling of a hung run (no Spark)."""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import ab  # noqa: E402
from steady import SEED_BASE  # noqa: E402  (ab puts chronobench/ on the path)

BASE = [10.0, 10.4, 9.6, 10.2, 9.8, 10.1, 9.9, 10.3, 9.7, 10.0]


def scaled(f, runs=BASE):
    return [x * f for x in runs]


def test_constants():
    assert ab.PAIRS == 10 and ab.WINS_NEEDED == 9
    assert ab.SEED_BASE != SEED_BASE


def test_worse_beyond_bound_both_directions():
    assert ab.verdict(BASE, scaled(1.3), "lower", 0.25)["verdict"] == "worse"
    assert ab.verdict(BASE, scaled(0.7), "higher", 0.25)["verdict"] == "worse"
    # 20 % worse is inside the 0.25 bound and every pair lost: no change
    r = ab.verdict(BASE, scaled(1.2), "lower", 0.25)
    assert r["verdict"] == "no change" and r["wins"] == 0


def test_worse_takes_precedence_over_unresolved():
    wide = [1, 20, 3, 15, 2, 18, 4, 12, 5, 16]
    assert ab.verdict(BASE, [x * 2 for x in wide], "lower", 0.25)["verdict"] == "worse"


def test_better_lower_and_higher():
    r = ab.verdict(BASE, scaled(0.9), "lower", 0.25)
    assert (r["verdict"], r["wins"], round(r["ratio"], 6)) == ("better", 10, 0.9)
    assert ab.verdict(BASE, scaled(1.1), "higher", 0.25)["verdict"] == "better"


def test_better_needs_nine_wins():
    head = scaled(0.9)
    head[0], head[1] = BASE[0] + 0.1, BASE[1] + 0.1  # two lost pairs: 8/10
    r = ab.verdict(BASE, head, "lower", 0.25)
    assert (r["wins"], r["verdict"]) == (8, "no change")
    head[1] = BASE[1] * 0.9  # 9/10
    assert ab.verdict(BASE, head, "lower", 0.25)["verdict"] == "better"


def test_better_needs_gap_beyond_base_iqr():
    r = ab.verdict(BASE, [x - 0.01 for x in BASE], "lower", 0.25)
    assert r["wins"] == 10
    assert r["base"]["q3"] - r["base"]["q1"] > 0.01
    assert r["verdict"] == "no change"


def test_ties_count_for_neither_side():
    r = ab.verdict(BASE, list(BASE), "lower", 0.25)
    assert (r["wins"], r["verdict"]) == (0, "no change")
    ok = [1.0] * 10
    r = ab.verdict(ok, ok, "higher", 0.01)
    assert (r["wins"], r["verdict"], r["ratio"]) == (0, "no change", 1.0)


def test_unresolved_when_either_side_spreads():
    wide = [6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 10.0, 10.0, 9.0, 11.0]
    assert ab.verdict(wide, BASE, "lower", 0.25)["verdict"] == "unresolved"
    assert ab.verdict(BASE, wide, "lower", 0.25)["verdict"] == "unresolved"


def test_unresolved_exception_when_every_head_run_beats_every_base_run():
    base = [10.0, 30.0, 12.0, 28.0, 14.0, 26.0, 16.0, 24.0, 18.0, 22.0]
    head = [1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 5.0, 5.5]
    r = ab.verdict(base, head, "lower", 0.25)
    assert r["head"]["spread"] > 0.25 and r["verdict"] == "better"
    # wins every pair but the gap is inside the base IQR: the exception
    # turns "unresolved" into "no change", not into "better"
    head = [x - 0.5 for x in base]
    head = [min(h, 9.9) for h in head]  # every head run below every base run
    r = ab.verdict(base, head, "lower", 0.25)
    assert r["wins"] == 10 and r["verdict"] == "no change"
    # one head run above a base run: unresolved again
    head[0] = 11.0
    assert ab.verdict(base, head, "lower", 0.25)["verdict"] == "unresolved"


def _alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def test_hung_run_counts_as_crashed_and_leaves_no_process(tmp_path, monkeypatch):
    """A run that outlives RUN_TIMEOUT_S is killed with the processes it
    started and counts as crashed, instead of ending the A/B."""
    pids = tmp_path / "pids"
    hang = (
        "import os, subprocess, sys, time\n"
        "child = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(120)'])\n"
        f"open({str(pids)!r}, 'w').write(f'{{os.getpid()}} {{child.pid}}')\n"
        "time.sleep(120)\n"
    )
    (tmp_path / "BENCHMARK.json").write_text(
        json.dumps({"command": [sys.executable, "-c", hang], "run_seconds": 1})
    )
    monkeypatch.setattr(ab, "RUN_TIMEOUT_S", 5)
    assert ab.run_once(str(tmp_path), "tsdb_mixed", 1, 0) is None
    started = [int(p) for p in pids.read_text().split()]
    deadline = time.monotonic() + 10
    while any(map(_alive, started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not any(map(_alive, started)), started
