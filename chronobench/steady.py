"""Steadiness tool: run workloads repeatedly with different seeds and
report, per end-to-end metric, the median, the quartiles and the
spread (q3 - q1) / median, flagging any spread above the metric's
bound in BENCHMARK.json.

    python3 chronobench/steady.py --runs 10                  # every workload
    python3 chronobench/steady.py --workload analytics_star --runs 5 --traced 2

``--traced N`` also makes N traced runs and prints the median of each
per-layer metric and the tracing overhead: traced minus untraced median
of the end-to-end metrics both kinds of run report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Run i of a workload uses seed SEED_BASE + i.
SEED_BASE = 1000


def run_once(spec: dict, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    flagged = []
    summary: dict = {}
    for wl in workloads:
        runs = [run_once(spec, wl, SEED_BASE + i, seconds, 0) for i in range(args.runs)]
        bad = [r for r in runs if not r["correct"]]
        print(f"\n== {wl}: {len(runs)} runs, {len(bad)} incorrect")
        summary[wl] = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            flag = "OVER" if sp > m["bound"] else ("warn" if sp > m["bound"] / 3 else "")
            if flag == "OVER":
                flagged.append(f"{wl}.{m['name']}")
            summary[wl][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
            print(f"  {m['name']:20s} median {med:12.4f} {m['unit']:6s} q1 {q1:12.4f} q3 {q3:12.4f}"
                  f" spread {sp:6.3f} bound {m['bound']:.2f} {flag}")
            print("      runs: " + " ".join(f"{v:.4g}" for v in vals))
        if args.traced:
            traced = [run_once(spec, wl, SEED_BASE + i, seconds, 1) for i in range(args.traced)]
            print(f"  -- {wl}: {len(traced)} traced runs (per-layer medians)")
            for m in spec["per_layer"]:
                vals = [r["metrics"][m["name"]]["value"] for r in traced]
                print(f"     {m['name']:44s} {statistics.median(vals):14.4f} {m['unit']}")
            for name in ("setup_s", "throughput_per_s", "latency_p50_ms", "pass_s"):
                t = statistics.median(r["metrics"][f"trace.{name}"]["value"] for r in traced)
                u = summary[wl][name]["median"]
                print(f"     tracing overhead on {name:18s} {t - u:+12.4f} ({(t - u) / u:+.1%})")
    print(json.dumps({"flagged": flagged, "summary": summary}))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
