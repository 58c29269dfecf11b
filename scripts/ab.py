"""Paired A/B runner over chronobench: run a base revision and a head
revision as 10 interleaved pairs of the benchmark and give each
end-to-end metric a verdict.

    python scripts/ab.py --base HEAD                          # HEAD vs the working tree
    python scripts/ab.py --base e0edea2 --head 4de2f98 --workload tsdb_mixed
    python scripts/ab.py --base 8f8a83b --head 569b525 --workload tsdb_mixed --trace 1

A revision is checked out once with ``git worktree add --detach`` into
``.bench_build/<sha>`` and reused by later calls; with no ``--head`` the
head side is this working tree. Each side runs its own checkout's
BENCHMARK.json ``command`` for that file's ``run_seconds``. Pair i uses
seed ``SEED_BASE + i`` on both sides, and the side that runs first
alternates from pair to pair.

Verdicts, first match wins (``bound`` is the metric's BENCHMARK.json
bound, base/head medians ``b``/``h``):

- worse: ``h`` is worse than ``b`` by more than ``bound`` of ``b``;
- better: head wins at least 9 of the 10 pairs (ties count for neither
  side) and ``|h - b|`` exceeds the base IQR;
- unresolved: either side's (q3 - q1) / median exceeds ``bound``, unless
  every head run beats every base run;
- no change: otherwise.

With ``--trace 1`` the runs are traced: the end-to-end metrics are read
from their ``trace.<name>`` copies (``peak_rss_mb`` is not reported by a
traced run) and the per-layer medians, head/base ratios and head wins
are added, with no verdict. The last line of standard output is one JSON object
holding the whole report; progress goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "chronobench"))

from steady import spread  # noqa: E402

PAIRS = 10
#: Pairs head must win for "better".
WINS_NEEDED = 9
#: Pair i runs seed SEED_BASE + i on both sides (steady.py uses 1000 + i).
SEED_BASE = 2000
#: Seconds one benchmark run may take before it counts as crashed.
RUN_TIMEOUT_S = 900


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True, capture_output=True, text=True).stdout.strip()


def checkout(rev: str) -> tuple[str, str]:
    """(sha, path) of a detached worktree of ``rev`` under .bench_build/."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(ROOT, ".bench_build", sha)
    if not os.path.isdir(path):
        git("worktree", "prune")
        git("worktree", "add", "--detach", path, sha)
    return sha, path


def load_spec(path: str) -> dict:
    with open(os.path.join(path, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(path: str, workload: str, seed: int, trace: int) -> dict | None:
    """One benchmark run in the checkout at ``path``; None if it crashed
    or ran past RUN_TIMEOUT_S. A hung run is killed with its whole
    session: the JVM and the Python workers it started."""
    spec = load_spec(path)
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    proc = subprocess.Popen(
        cmd, cwd=path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the unreaped leader keeps the group alive
        proc.communicate()
        sys.stderr.write(f"run timed out after {RUN_TIMEOUT_S} s\n")
        return None
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-2000:])
        return None
    return json.loads(lines[-1])


def end_to_end(run: dict, names: list[str]) -> dict[str, float]:
    """The end-to-end values of one run; a traced run reports them as
    ``trace.<name>`` and its op_ok_ratio is rebuilt from the op counts."""
    m = {k: v["value"] for k, v in run["metrics"].items()}
    if "trace.passes" in m:
        m = {k[len("trace."):]: v for k, v in m.items() if k.startswith("trace.")}
        m["op_ok_ratio"] = (run["attempted"] - run["failed"]) / run["attempted"]
    return {n: m[n] for n in names if n in m}


def _stats(values: list[float]) -> dict:
    med, q1, q3, sp = spread(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": sp}


def wins(base: list[float], head: list[float], better: str) -> int:
    """Pairs in which head reads better; a tie counts for neither side."""
    sign = 1 if better == "higher" else -1
    return sum(sign * (y - x) > 0 for x, y in zip(base, head))


def verdict(base: list[float], head: list[float], better: str, bound: float) -> dict:
    """Compare paired runs (``base[i]`` and ``head[i]`` share a seed) of
    one metric; ``better`` is "lower" or "higher"."""
    sign = 1 if better == "higher" else -1
    b, h = _stats(base), _stats(head)
    won = wins(base, head, better)
    gain = sign * (h["median"] - b["median"])
    worse_by = -gain / abs(b["median"]) if b["median"] else (float("inf") if gain < 0 else 0.0)
    head_beats_all = (min(head) > max(base)) if sign > 0 else (max(head) < min(base))
    if worse_by > bound:
        v = "worse"
    elif won >= WINS_NEEDED and gain > b["q3"] - b["q1"]:
        v = "better"
    elif max(b["spread"], h["spread"]) > bound and not head_beats_all:
        v = "unresolved"
    else:
        v = "no change"
    return {
        "base": b, "head": h,
        "ratio": h["median"] / b["median"] if b["median"] else None,
        "wins": won, "pairs": len(base), "verdict": v,
    }


def compare(spec: dict, runs: list[tuple[dict | None, dict | None]], trace: int) -> dict:
    """The report of one workload from its (base, head) run pairs."""
    out: dict = {"runs": {}, "metrics": {}}
    for i, side in enumerate(("base", "head")):
        done = [p[i] for p in runs if p[i] is not None]
        out["runs"][side] = {
            "crashed": len(runs) - len(done),
            "incorrect": sum(not r["correct"] for r in done),
            "failed_ops": sum(r["failed"] for r in done),
            "attempted_ops": sum(r["attempted"] for r in done),
        }
    both = [p for p in runs if None not in p]
    names = [m["name"] for m in spec["end_to_end"]]
    values = [(end_to_end(b, names), end_to_end(h, names)) for b, h in both]
    for m in spec["end_to_end"]:
        pairs = [(b[m["name"]], h[m["name"]]) for b, h in values if m["name"] in b and m["name"] in h]
        if len(pairs) < 2:
            continue
        base, head = map(list, zip(*pairs))
        out["metrics"][m["name"]] = verdict(base, head, m["better"], m["bound"])
        out["metrics"][m["name"]].update(base_runs=base, head_runs=head)
    if trace and both:
        out["per_layer"] = {}
        for m in spec["per_layer"]:
            base, head = ([p[i]["metrics"][m["name"]]["value"] for p in both] for i in (0, 1))
            b, h = statistics.median(base), statistics.median(head)
            out["per_layer"][m["name"]] = {
                "base": b, "head": h, "ratio": h / b if b else None,
                "wins": wins(base, head, m["better"]), "pairs": len(both),
            }
    return out


def print_report(workload: str, rep: dict) -> None:
    print(f"== {workload}")
    for side, r in rep["runs"].items():
        print(f"  {side}: {r['crashed']} crashed, {r['incorrect']} incorrect runs,"
              f" {r['failed_ops']} of {r['attempted_ops']} operations failed")
    for name, m in rep["metrics"].items():
        b, h = m["base"], m["head"]
        ratio = f"{m['ratio']:.3f}" if m["ratio"] is not None else "-"
        print(f"  {name:18s} base {b['median']:11.4g} [{b['q1']:.4g}, {b['q3']:.4g}]"
              f"  head {h['median']:11.4g} [{h['q1']:.4g}, {h['q3']:.4g}]"
              f"  head/base {ratio}  head wins {m['wins']}/{m['pairs']}  {m['verdict']}")
    for name, m in rep.get("per_layer", {}).items():
        ratio = f"{m['ratio']:.3f}" if m["ratio"] is not None else "-"
        print(f"  {name:44s} base {m['base']:12.4g}  head {m['head']:12.4g}  head/base {ratio}"
              f"  head wins {m['wins']}/{m['pairs']}")


def main(argv=None) -> int:
    spec = load_spec(ROOT)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--head", help="git revision of the head side (default: the working tree)")
    ap.add_argument("--workload", action="append", choices=names, help="repeatable; default: every workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    base_sha, base_dir = checkout(args.base)
    head_sha, head_dir = checkout(args.head) if args.head else ("working tree", ROOT)
    workloads = args.workload or names
    seeds = [SEED_BASE + i for i in range(PAIRS)]
    report = {"base": base_sha, "head": head_sha, "seeds": seeds, "trace": args.trace, "workloads": {}}
    for wl in workloads:
        runs = []
        for i, seed in enumerate(seeds):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {}
            for side in order:
                got[side] = run_once(base_dir if side == "base" else head_dir, wl, seed, args.trace)
                ok = "crashed" if got[side] is None else f"correct={got[side]['correct']}"
                print(f"[{wl}] pair {i + 1}/{PAIRS} seed {seed} {side}: {ok}", file=sys.stderr, flush=True)
            runs.append((got["base"], got["head"]))
        report["workloads"][wl] = compare(spec, runs, args.trace)
        print_report(wl, report["workloads"][wl])
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
