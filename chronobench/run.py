"""Benchmark entry point.

    python3 chronobench/run.py --workload tsdb_mixed --seed 1 --seconds 15 --trace 0

Runs one seeded, closed-loop, single-client workload against
``chronobase_spark`` from the root of a source checkout and prints, as
the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics (spans, Spark status
counters, tracing overhead) and a trace file is written under
``.bench_traces/``. All scratch data lives under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

WORKLOADS = ("tsdb_mixed", "analytics_star")


def spec() -> dict:
    """BENCHMARK.json at the checkout root: the metric names and units
    this run prints."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _layer_common(b, setup_s: float, wall: float, stages: tuple[int, int]) -> dict:
    """Per-layer metrics every workload reports: session/catalog spans,
    engine counters over the timed loop, self time per layer, and the
    tracing overhead."""
    from harness import cores, stage_totals

    tr = b.tr
    out = {
        "session.get_spark_s": sum(tr.durations("session.get_spark", timed=False)),
        "catalog.load_tables_s": sum(tr.durations("catalog.load_tables", timed=False)),
    }
    eng = stage_totals(b.rest.stages(), *stages)
    for k, v in eng.items():
        out[f"engine.{k}"] = v
    out["engine.cpu_busy_ratio"] = eng["executor_run_s"] / (wall * cores()) if wall > 0 else 0.0
    for layer, s in sorted(tr.self_time_by_layer().items()):
        out[f"self.{layer}_s"] = s
    out["trace.setup_s"] = setup_s
    out["trace.overhead_s"] = tr.overhead_s
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    from harness import Bench, RssSampler, TRACE_DIR

    wl = importlib.import_module(args.workload)
    b = Bench(args.workload, args.seed, bool(args.trace))
    b.reset_work()
    rss = RssSampler().start()
    try:
        t0 = time.perf_counter()
        b.start_spark()
        state = wl.setup(b)
        setup_s = time.perf_counter() - t0
        if b.trace:
            stage0 = b.rest.next_stage_id()
            b.tr.loop_start = len(b.tr.spans)
            b.tr.counters.clear()
        b.attempted = b.failed = 0  # warm-up operations do not count
        b.untimed_s = 0.0
        t_loop0 = time.perf_counter()
        deadline = t_loop0 + args.seconds
        passes = 0
        while passes < wl.MIN_PASSES or time.perf_counter() < deadline:
            wl.run_pass(b, state)
            passes += 1
        t_loop1 = time.perf_counter()
        b.tr.loop_end = len(b.tr.spans)
        stage1 = b.rest.next_stage_id() if b.trace else 0
        e2e, layer = wl.finish(b, state)
        if b.trace:
            layer.update(_layer_common(b, setup_s, t_loop1 - t_loop0, (stage0, stage1)))
            layer["trace.passes"] = passes
            for k, v in e2e.items():
                layer[f"trace.{k}"] = v
            b.tr.write(
                os.path.join(b.root, TRACE_DIR, f"{args.workload}-{args.seed}-{b.tr.run_id}.json"),
                {"workload": args.workload, "seed": args.seed, "metrics": layer},
            )
    finally:
        b.stop()
        peak_mb = rss.stop()
    attempted = max(1, b.attempted)
    if b.trace:
        # a layer the workload does not run reports 0
        values, names = layer, spec()["per_layer"]
    else:
        e2e.update(
            setup_s=setup_s,
            peak_rss_mb=peak_mb,
            op_ok_ratio=(attempted - b.failed) / attempted,
        )
        values, names = e2e, spec()["end_to_end"]
    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        print(f"metrics missing from BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": b.failed == 0, "attempted": attempted, "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
