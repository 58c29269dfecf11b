"""``tsdb_mixed``: the reference's own job, writes beside reads.

Each round, in order: the generator lands a batch of event files; the
streaming sink absorbs it (``start_ingest`` over ``ttl_gate`` with one
checkpoint kept across rounds, ``available_now``); a fixed mix of reads
runs on the sink through ``operators.timeseries``; a few row writes
and primary-key reads run on a ``db.ChronoSpark`` facade table; then
maintenance: sink partitions holding at least ``COMPACT_AT`` files are
compacted, the facade table is compacted, and retention drops
partitions past the TTL on both tables.

The sink (partitioned by ``event_date``) and the facade
(partitioned by ``_bucket``) are separate write paths with different
layouts, so each runs on its own table. Every read result is checked
against numpy truth kept from the generated rows.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from harness import median

from chronobase_spark.db import ChronoSpark
from chronobase_spark.operators import timeseries
from chronobase_spark.streaming import ingest, maintenance

CFG = gen.TSDB
TTL_S = CFG["ttl_us"] // gen.US
#: Compaction policy: a sink partition is rewritten into one file once
#: it holds this many files.
COMPACT_AT = 8
#: Reads per round, by kind: (narrow 1 h range, wide 7 d range,
#: newest-100 ordered scan, per-user key lookup, latest row per user
#: over 1 d).
READ_MIX = (("narrow", 3), ("wide", 1), ("ordered", 2), ("point", 3), ("latest", 1))
FACADE_WRITES = 2
FACADE_ROWS = 40
FACADE_KEYS = 400
FACADE_READS = 1
#: Timed passes per run, at least: each pass makes one ingest trigger.
MIN_PASSES = 3


def _fmt(us: int) -> str:
    return gen.us_to_dt(us).strftime("%Y-%m-%d %H:%M:%S.%f")


def _date_floor_us(us: int) -> int:
    return us - us % gen.DAY_US


class State:
    def __init__(self, b):
        self.src = b.path("events_src")
        self.sink = b.path("sink")
        self.ckpt = b.path("sink_ckpt")
        self.facade_dir = b.path("facade")
        for d in (self.src, self.sink):
            os.makedirs(d, exist_ok=True)
        self.round = 0
        self.next_id = 0
        # truth: every row the sink accepted, and the retention floor
        self.ev = {k: np.zeros(0, np.int64) for k in ("event_id", "ts", "user_id")}
        self.floor_us = 0
        self.user_bytes = 0  # Arrow bytes of accepted rows
        self.pending: list[tuple[dict, int]] = []  # landed, not yet ingested
        self.db: ChronoSpark | None = None
        self.df = None  # current sink handle
        self.n_files = 0  # files behind it (traced runs)
        self.facade_rows: list[tuple[int, str]] = []  # every acknowledged (ts, key)
        self.facade_floor_us = 0
        self.read_ms: list[float] = []
        self.read_kind_ms: dict[str, list[float]] = {k: [] for k, _ in READ_MIX}
        self.write_ms: list[float] = []
        self.ingest_rate: list[float] = []
        self.freshness_s: list[float] = []
        self.pass_s: list[float] = []
        self.progress: list = []
        self.post_compact_ms: list[float] = []
        self.bytes_written = 0
        # traced runs: (job description, rows returned, files in table)
        self.scan_tags: list[tuple[str, int, int]] = []


def _live(st: State) -> np.ndarray:
    return st.ev["ts"] >= st.floor_us


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, dirs, names in os.walk(root):
        # dot- and underscore-prefixed entries are invisible to Spark
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(size for p, size in after.items() if p not in before)


# -- ingest -------------------------------------------------------------

def _land(b, st: State, rounds: range, n_files: int) -> tuple[int, int]:
    """Land the batches of ``rounds``, ``n_files`` files each; returns
    (rows landed, last sim now)."""
    n = 0
    for r in rounds:
        batch = gen.event_batch(b.seed, r, st.next_id)
        st.next_id += len(batch["event_id"])
        nbytes = gen.land_batch(batch, st.src, r, n_files)
        st.pending.append((batch, nbytes))
        n += len(batch["event_id"])
    return n, gen.sim_now_us(rounds[-1])


def _ingest(b, st: State, now_us: int) -> float:
    """One ``available_now`` trigger over everything landed; returns its
    wall seconds. The gate's TTL is set so that its wall-clock cutoff
    equals the simulated cutoff ``now_us - ttl``."""
    spark = b.spark
    wall_us = int(time.time() * gen.US)
    ttl_s = (wall_us - (now_us - CFG["ttl_us"])) // gen.US
    before = _files(st.sink) if b.trace else {}
    t0 = time.perf_counter()
    with b.tr.span("ingest.trigger"):
        q = ingest.start_ingest(
            ingest.ttl_gate(ingest.read_event_stream(spark, st.src), int(ttl_s)),
            st.sink,
            st.ckpt,
            available_now=True,
        )
        q.awaitTermination()
    el = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"ingest failed: {q.exception()}")
    st.progress.extend(q.recentProgress)
    if b.trace:
        st.bytes_written += _new_bytes(before, _files(st.sink))
    # truth: the gate keeps rows newer than the cutoff
    cutoff = now_us - CFG["ttl_us"]
    for batch, nbytes in st.pending:
        keep = batch["ts"] > cutoff
        for k in st.ev:
            st.ev[k] = np.concatenate([st.ev[k], batch[k][keep]])
        st.user_bytes += int(nbytes * keep.mean())
        b.tr.count("ingest.rows_in", len(keep))
        b.tr.count("ingest.rows_dropped", int((~keep).sum()))
    st.pending = []
    return el


# -- reads --------------------------------------------------------------

def _open_sink(b, st: State):
    """A reader's handle on the sink, re-opened whenever its files
    change (after ingest and after maintenance): the file listing is
    paid then, not on every read."""
    st.df = b.spark.read.parquet(st.sink)
    if b.trace:
        st.n_files = len(_files(st.sink))
    return st.df


def _range_truth(st: State, lo: int, hi: int) -> tuple[int, int]:
    m = _live(st) & (st.ev["ts"] >= lo) & (st.ev["ts"] <= hi)
    return int(m.sum()), int(st.ev["event_id"][m].sum())


def _count_sum(df) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def _read(b, st: State, kind: str, r: np.random.Generator, now: int) -> None:
    """One timed read of ``kind``; recency-biased window end."""
    lag = min(int(r.exponential(12 * gen.HOUR_US)), 3 * gen.DAY_US)
    end = now - lag
    name = f"scan.{kind}"
    b.op()
    try:
        t0 = time.perf_counter()
        with b.tr.span(name) as sid:
            df = st.df
            if kind == "narrow" or kind == "wide":
                span_us = gen.HOUR_US if kind == "narrow" else 7 * gen.DAY_US
                lo = end - span_us
                got = _count_sum(timeseries.time_range_scan(df, _fmt(lo), _fmt(end)))
            elif kind == "ordered":
                rows = timeseries.scan_ordered(df, ascending=False, limit=100).select("event_id").collect()
                got = [int(x[0]) for x in rows]
            elif kind == "point":
                user = int(gen.zipf_choice(r, CFG["n_users"], CFG["zipf_a"], 1)[0])
                got = _count_sum(timeseries.key_lookup(df, "user_id", user))
            else:  # latest
                lo = end - gen.DAY_US
                win = timeseries.time_range_scan(df, _fmt(lo), _fmt(end))
                got = _count_sum(timeseries.latest_per_key(win, "user_id"))
        ms = (time.perf_counter() - t0) * 1e3
    except Exception:
        b.error(name)
        return
    st.read_ms.append(ms)
    st.read_kind_ms[kind].append(ms)
    with b.untimed():
        live = _live(st)
        if kind in ("narrow", "wide"):
            want = _range_truth(st, lo, end)
        elif kind == "ordered":
            idx = np.flatnonzero(live)
            order = np.lexsort((-st.ev["event_id"][idx], -st.ev["ts"][idx]))[:100]
            want = [int(x) for x in st.ev["event_id"][idx][order]]
        elif kind == "point":
            m = live & (st.ev["user_id"] == user)
            want = (int(m.sum()), int(st.ev["event_id"][m].sum()))
        else:
            m = live & (st.ev["ts"] >= lo) & (st.ev["ts"] <= end)
            u, ts, eid = st.ev["user_id"][m], st.ev["ts"][m], st.ev["event_id"][m]
            o = np.lexsort((eid, ts, u))
            last = np.r_[u[o][1:] != u[o][:-1], True]
            want = (int(last.sum()), int(eid[o][last].sum()))
        b.check(got == want, f"{name}: got {str(got)[:80]} want {str(want)[:80]}")
        rows_out = len(got) if kind == "ordered" else got[0]
        if sid is not None:
            st.scan_tags.append((f"{name}#{sid}", rows_out, st.n_files))


# -- facade -------------------------------------------------------------

def _facade_round(b, st: State, r: int, rr: np.random.Generator) -> None:
    now = gen.sim_now_us(r)
    db = st.db
    for w in range(FACADE_WRITES):
        rows = gen.facade_rows(b.seed, r, w, FACADE_ROWS, FACADE_KEYS, len(st.facade_rows))
        b.op()
        try:
            before = _files(st.facade_dir) if b.trace else {}
            t0 = time.perf_counter()
            with b.tr.span("db.insert"):
                n_ok = db.insert("metrics", rows, now=gen.us_to_dt(now))
            with b.tr.span("db.flush"):
                n_fl = db.flush("metrics")
            st.write_ms.append((time.perf_counter() - t0) * 1e3)
            if b.trace:
                st.bytes_written += _new_bytes(before, _files(st.facade_dir))
        except Exception:
            b.error("db.insert+flush")
            continue
        with b.untimed():
            b.check(n_ok == len(rows) and n_fl == len(rows), f"facade write acked {n_ok}/{n_fl} of {len(rows)}")
            for row in rows:
                ts = int((row["ts"] - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))
                st.facade_rows.append((ts, row["key"]))
                st.user_bytes += 8 + 8 + len(row["key"])
    for _ in range(FACADE_READS):
        lo = now - int(rr.integers(1, 48)) * gen.HOUR_US
        b.op()
        try:
            t0 = time.perf_counter()
            with b.tr.span("db.query_plan"):
                df = db.query("metrics", _fmt(lo), _fmt(now))
            t1 = time.perf_counter()
            with b.tr.span("db.query_exec"):
                got = df.count()
            st.read_ms.append((time.perf_counter() - t0) * 1e3)
            b.tr.sample("db.query_plan_ms", (t1 - t0) * 1e3)
            b.tr.sample("db.query_exec_ms", (time.perf_counter() - t1) * 1e3)
        except Exception:
            b.error("db.query")
            continue
        with b.untimed():
            # primary-key reads: the range filter runs first, then the
            # latest version per key among the rows in range survives
            keys = {k for ts, k in st.facade_rows if lo <= ts <= now and ts >= st.facade_floor_us}
            b.check(got == len(keys), f"db.query pk rows {got} want {len(keys)}")


# -- maintenance --------------------------------------------------------

def _maintain(b, st: State, r: int) -> None:
    now = gen.sim_now_us(r)
    cutoff_date = gen.us_to_dt(now - CFG["ttl_us"]).date().isoformat()
    b.op()
    try:
        before = _files(st.sink) if b.trace else {}
        per_part: dict[str, int] = {}
        for p in _files(st.sink):
            part = os.path.basename(os.path.dirname(p))
            per_part[part] = per_part.get(part, 0) + 1
        with b.tr.span("maintenance.compact"):
            for part, n in sorted(per_part.items()):
                if n >= COMPACT_AT and part.startswith("event_date="):
                    maintenance.compact_partition(b.spark, st.sink, part.split("=", 1)[1])
        if b.trace:
            after = _files(st.sink)
            rewritten = _new_bytes(before, after)
            b.tr.count("maintenance.bytes_rewritten", rewritten)
            st.bytes_written += rewritten
        with b.tr.span("maintenance.retention"):
            dropped = maintenance.retention_sweep(st.sink, cutoff_date)
        b.tr.count("maintenance.partitions_dropped", len(dropped))
        fb = _files(st.facade_dir) if b.trace else {}
        with b.tr.span("maintenance.db_compact"):
            st.db.compact("metrics")
        with b.tr.span("maintenance.db_cleanup"):
            st.db.cleanup("metrics", now=gen.us_to_dt(now))
        if b.trace:
            st.bytes_written += _new_bytes(fb, _files(st.facade_dir))
    except Exception:
        b.error("maintenance")
        return
    floor = _date_floor_us(now - CFG["ttl_us"])
    st.floor_us = max(st.floor_us, floor)
    st.facade_floor_us = max(st.facade_floor_us, floor)
    with b.untimed():
        n_sink = b.spark.read.parquet(st.sink).count()
        b.check(n_sink == int(_live(st).sum()), f"sink rows after maintenance {n_sink} want {int(_live(st).sum())}")
    # foreground stall right after maintenance: one narrow read
    t0 = time.perf_counter()
    with b.tr.span("maintenance.post_compact_query"):
        _count_sum(timeseries.time_range_scan(_open_sink(b, st), _fmt(now - gen.HOUR_US), _fmt(now)))
    st.post_compact_ms.append((time.perf_counter() - t0) * 1e3)


# -- workload entry points ---------------------------------------------

def setup(b) -> State:
    st = State(b)
    hist = range(CFG["history_rounds"])  # one file per history round
    _land(b, st, hist, 1)
    with b.tr.span("ingest.history"):
        _ingest(b, st, gen.sim_now_us(hist[-1]))
    st.round = CFG["history_rounds"]
    st.progress.clear()
    st.db = ChronoSpark(b.spark, st.facade_dir)
    st.db.create_table("metrics", ttl_seconds=TTL_S, primary_keys=["key"])
    _open_sink(b, st)
    # warm-up: every operation once, its timings discarded
    rr = gen.rng(b.seed, 9, 0)
    now = gen.sim_now_us(st.round - 1)
    for kind, _n in READ_MIX:
        _read(b, st, kind, rr, now)
    _facade_round(b, st, st.round - 1, rr)
    oldest = min(os.path.basename(os.path.dirname(p)) for p in _files(st.sink))
    maintenance.compact_partition(b.spark, st.sink, oldest.split("=", 1)[1])
    _maintain(b, st, st.round - 1)
    for lst in (st.read_ms, st.write_ms, st.post_compact_ms, st.scan_tags):
        lst.clear()
    for v in st.read_kind_ms.values():
        v.clear()
    return st


def run_pass(b, st: State) -> None:
    t0 = time.perf_counter()
    u0 = b.untimed_s
    r = st.round
    st.round += 1
    rr = gen.rng(b.seed, 9, r)
    n, now = _land(b, st, range(r, r + 1), CFG["files_per_round"])
    t_land = time.perf_counter()
    b.op()
    try:
        el = _ingest(b, st, now)
    except Exception:
        b.error("ingest")
        return
    st.ingest_rate.append(n / el)
    # freshness: landing to the batch's newest step visible to a range read
    lo = now - CFG["step_us"] + 1
    with b.tr.span("ingest.visible_read"):
        got = _count_sum(timeseries.time_range_scan(_open_sink(b, st), _fmt(lo), _fmt(now)))
    st.freshness_s.append(time.perf_counter() - t_land)
    with b.untimed():
        b.check(got == _range_truth(st, lo, now), f"ingest visibility {got} want {_range_truth(st, lo, now)}")
        n_sink = st.df.count()
        b.check(n_sink == int(_live(st).sum()), f"sink rows {n_sink} want {int(_live(st).sum())}")
    kinds = [k for k, c in READ_MIX for _ in range(c)]
    for i in rr.permutation(len(kinds)):
        _read(b, st, kinds[i], rr, now)
    _facade_round(b, st, r, rr)
    _maintain(b, st, r)
    st.pass_s.append(time.perf_counter() - t0 - (b.untimed_s - u0))


def _durability(b, st: State) -> None:
    """A fresh facade on the same data dir sees every acknowledged write
    that retention has not dropped."""
    b.op()
    fresh = ChronoSpark(b.spark, st.facade_dir, lock=False)
    want = sum(1 for ts, _k in st.facade_rows if ts >= st.facade_floor_us)
    got = fresh.query("metrics", "1970-01-01 00:00:00", "2100-01-01 00:00:00", enforce_primary_keys=False).count()
    b.check(got == want, f"durability: fresh facade sees {got} rows, acknowledged {want}")


def finish(b, st: State) -> tuple[dict, dict]:
    _durability(b, st)
    disk = sum(_files(st.sink).values()) + sum(_files(st.facade_dir).values())
    e2e = {
        "throughput_per_s": median(st.ingest_rate),
        "latency_p50_ms": median(st.read_ms),
        "pass_s": median(st.pass_s),
    }
    layer: dict[str, float] = {}
    if b.trace:
        layer.update(_layer_metrics(b, st, disk))
    return e2e, layer


def _layer_metrics(b, st: State, disk: int) -> dict:
    from harness import sql_nodes

    tr = b.tr
    out: dict[str, float] = {}
    prog = st.progress
    dur = lambda key: median([p.durationMs.get(key, 0) for p in prog]) if prog else 0.0  # noqa: E731
    out["ingest.trigger_s"] = median(tr.durations("ingest.trigger"))
    out["ingest.batch_ms"] = dur("triggerExecution")
    out["ingest.add_batch_ms"] = dur("addBatch")
    out["ingest.planning_ms"] = dur("queryPlanning")
    out["ingest.wal_commit_ms"] = dur("walCommit")
    out["ingest.latest_offset_ms"] = dur("latestOffset")
    rows_in = tr.counters.get("ingest.rows_in", 0.0)
    out["ingest.rows_in"] = rows_in
    out["ingest.ttl_drop_ratio"] = tr.counters.get("ingest.rows_dropped", 0.0) / rows_in if rows_in else 0.0
    out["ingest.freshness_p50_s"] = median(st.freshness_s)
    files = _files(st.sink)
    per_part: dict[str, int] = {}
    for p in files:
        part = os.path.dirname(p)
        per_part[part] = per_part.get(part, 0) + 1
    out["storage.files"] = len(files)
    out["storage.max_files_per_partition"] = max(per_part.values()) if per_part else 0
    out["storage.disk_bytes"] = disk
    out["storage.write_amp"] = st.bytes_written / st.user_bytes if st.user_bytes else 0.0
    out["storage.bytes_per_user_byte"] = disk / st.user_bytes if st.user_bytes else 0.0
    out["maintenance.compact_s"] = sum(tr.durations("maintenance.compact")) + sum(tr.durations("maintenance.db_compact"))
    out["maintenance.bytes_rewritten"] = tr.counters.get("maintenance.bytes_rewritten", 0.0)
    out["maintenance.retention_s"] = sum(tr.durations("maintenance.retention")) + sum(tr.durations("maintenance.db_cleanup"))
    out["maintenance.partitions_dropped"] = tr.counters.get("maintenance.partitions_dropped", 0.0)
    out["maintenance.post_compact_query_ms"] = median(st.post_compact_ms)
    ms = lambda name: median([d * 1e3 for d in tr.durations(name)])  # noqa: E731
    out["db.insert_ms"] = ms("db.insert")
    out["db.flush_ms"] = ms("db.flush")
    out["db.write_p50_ms"] = median(st.write_ms)
    out["db.query_plan_ms"] = median(tr.samples.get("db.query_plan_ms", []))
    out["db.query_exec_ms"] = median(tr.samples.get("db.query_exec_ms", []))
    t0 = time.perf_counter()
    with tr.span("db.get_stats"):
        st.db.get_stats("metrics")
    out["db.get_stats_ms"] = (time.perf_counter() - t0) * 1e3
    for kind, _n in READ_MIX:
        if kind in ("narrow", "wide", "latest", "point"):
            key = "scan.point_ms" if kind == "point" else f"scan.{kind}_ms"
            out[key] = median(st.read_kind_ms[kind])
    execs = b.rest.sql()
    files_read = rows_scanned = bytes_read = files_total = returned = 0
    for desc, rows_out, n_files in st.scan_tags:
        scans = [n for n in sql_nodes(execs, desc) if n["name"].startswith("Scan") and n["desc"] == desc]
        files_read += sum(n["metrics"].get("number of files read", 0) for n in scans)
        rows_scanned += sum(n["metrics"].get("number of output rows", 0) for n in scans)
        bytes_read += sum(n["metrics"].get("size of files read", 0) for n in scans)
        files_total += n_files * max(1, len({n["exec"] for n in scans}))
        returned += rows_out
    out["scan.files_read"] = files_read
    out["scan.files_pruned_ratio"] = 1.0 - files_read / files_total if files_total else 0.0
    out["scan.rows_examined_per_row_returned"] = rows_scanned / returned if returned else 0.0
    out["scan.bytes_read"] = bytes_read
    return out
