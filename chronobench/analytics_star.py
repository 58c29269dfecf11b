"""``analytics_star``: read-only analytics over a generated sf0.1-sized
corpus. Each pass runs a pinned list of registered queries in a seeded
order, then the LLM-pipeline phase of ``llm_dedup`` (near-duplicate
pairs and clusters, IVF top-k search) over the corpus's ``documents``
and ``embeddings`` tables.

The queries cover ``operators.joins`` (broadcast, salted, as-of,
bucketed range join), ``operators.aggregates`` (rollup, grouping sets),
``operators.windows`` and ``operators.setops``. Every result is hashed
outside the timed region and compared with the hash of the query's
DuckDB oracle SQL on the same files. The corpus is read-only: storage,
streaming and maintenance do no work here.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import pandas as pd

import gen
import llm_dedup
from harness import median

from chronobase_spark import catalog, queries

# the repository's oracle harness: its strict scalar canonicaliser and
# DuckDB views over a corpus directory
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from oracle_harness import _canon_str, duck_connection  # noqa: E402

#: Scale of the generated star tables: 0.1 is the sf0.1 corpus the
#: repo's own bench uses (TESTDATA.md): 150,000 orders, ~600,000 line
#: items. ``llm_dedup`` writes the corpus's documents and embeddings.
SCALE = 0.1
#: Timed passes per run, at least.
MIN_PASSES = 1
#: Scale of the warm-up corpus: one pass over it loads classes and
#: JIT-compiles the operators before the timed passes on the full corpus.
WARM_SCALE = 0.01
#: Pinned query list, by registry name: joins (multi-way broadcast,
#: salted, as-of, bucketed range), rollup, grouping sets, windows
#: (range frame, share of total) and EXCEPT ALL. The registry's own
#: order rotates between releases, so it is never used.
PINNED = (
    "revenue_by_region",
    "monthly_revenue_salted",
    "asof_last_error",
    "event_pairs_within_gap",
    "nation_pair_trade",
    "rollup_pricing",
    "grouping_sets_revenue",
    "range_frame_hour_sum",
    "nation_revenue_share",
    "except_all_users",
)


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted
    by their canonical strings."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_canon_str(v) for v in row) for row in pdf[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return f"{len(rows)}:{h.hexdigest()}"


class State:
    def __init__(self, b):
        self.corpus = b.path("corpus")
        self.fns = {}
        self.query_ms: list[float] = []
        self.query_s: dict[str, list[float]] = {q: [] for q in PINNED}
        self.sql_s: list[float] = []  # the query part of each pass
        self.pass_s: list[float] = []
        self.passes = 0
        self.oracle: dict[str, str] = {}
        self.llm: llm_dedup.State | None = None


def setup(b) -> State:
    st = State(b)
    warm = b.path("warm_corpus")
    tables = gen.star_tables(b.seed, WARM_SCALE)
    # the catalog loads every table; the queries read none of these two
    tables["documents"], _ = gen.documents(b.seed, 200)
    tables["embeddings"], _, _ = gen.embeddings(b.seed, 200, 8)
    gen.write_corpus(warm, tables)
    gen.write_corpus(st.corpus, gen.star_tables(b.seed, SCALE))
    # documents and embeddings, then the LLM phase's warm-up pass
    st.llm = llm_dedup.setup(b, st.corpus)
    with b.tr.span("catalog.load_tables"):
        catalog.load_tables(b.spark, st.corpus)
    registry = queries.queries()
    st.fns = {q: registry[q] for q in PINNED}
    # warm-up pass (class loading, code generation); results discarded
    for q in PINNED:
        st.fns[q](b.spark, warm).toPandas()
    return st


def run_pass(b, st: State) -> None:
    order = gen.rng(b.seed, 7, st.passes).permutation(len(PINNED))
    st.passes += 1
    t0 = time.perf_counter()
    u0 = b.untimed_s
    if not st.oracle:
        with b.untimed():
            st.oracle = _oracle_hashes(st.corpus)
    for i in order:
        q = PINNED[i]
        b.op()
        try:
            t1 = time.perf_counter()
            with b.tr.span(f"analytics.{q}"):
                pdf = st.fns[q](b.spark, st.corpus).toPandas()
            el = time.perf_counter() - t1
        except Exception:
            b.error(q)
            continue
        st.query_ms.append(el * 1e3)
        st.query_s[q].append(el)
        with b.untimed():
            h = result_hash(pdf)
            b.check(h == st.oracle[q], f"{q}: result {h[:24]} oracle {st.oracle[q][:24]}")
    st.sql_s.append(time.perf_counter() - t0 - (b.untimed_s - u0))
    llm_dedup.run_pass(b, st.llm)
    st.pass_s.append(st.sql_s[-1] + st.llm.pass_s[-1])


def _oracle_hashes(corpus: str) -> dict[str, str]:
    sql = queries.oracle_sql()
    con = duck_connection(corpus)
    try:
        return {q: result_hash(con.execute(sql[q]).df()) for q in PINNED}
    finally:
        con.close()


def finish(b, st: State) -> tuple[dict, dict]:
    layer = llm_dedup.finish(b, st.llm)
    wall = median(st.pass_s)
    # operations: each query, the dedup step (pairs and clusters) and
    # the vector search
    ops_ms = st.query_ms + [s * 1e3 for s in st.llm.dedup_s] + st.llm.search_ms
    e2e = {
        "throughput_per_s": (len(PINNED) + 2) / wall if wall else 0.0,
        "latency_p50_ms": median(ops_ms),
        "pass_s": wall,
    }
    if b.trace:
        from harness import sql_nodes, stage_totals

        layer["analytics.wall_s"] = median(st.sql_s)
        for q in PINNED:
            layer[f"analytics.{q}_s"] = median(st.query_s[q])
        nodes = sql_nodes(b.rest.sql(), "analytics.")
        n = max(1, st.passes)
        layer["analytics.broadcast_joins"] = sum(x["name"] == "BroadcastHashJoin" for x in nodes) / n
        layer["analytics.sort_merge_joins"] = sum(x["name"] == "SortMergeJoin" for x in nodes) / n
        layer["analytics.shuffle_bytes"] = (
            stage_totals(b.rest.stages(), 0, prefix="analytics.")["shuffle_write_bytes"] / n
        )
    return e2e, layer
