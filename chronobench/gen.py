"""Seeded input generator for the benchmark workloads.

Everything the program under test sees is written here, from a seed:
event batches for the streaming sink, the star-schema corpus for the
analytics queries, a document corpus with injected near-duplicate
clusters, and a Gaussian-cluster embedding set with probe ids. The same
seed gives byte-identical files; the ground truth each workload checks
against (live rows, duplicate pairs, probe ids) comes from the same
arrays, never from the program.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
HOUR_US = 3600 * US
DAY_US = 24 * HOUR_US
#: Simulated clock origin (UTC). Far enough in the past that every
#: generated row is older than the wall clock, which the ingest TTL gate
#: compares against.
ANCHOR_US = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp()) * US
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream): a batch's rows do not
    depend on how many batches were drawn before it."""
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def zipf_choice(r: np.random.Generator, n_keys: int, a: float, size: int) -> np.ndarray:
    """Finite Zipf: key k (0-based) drawn with weight 1/(k+1)^a."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** a
    return r.choice(n_keys, size=size, p=w / w.sum()).astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


# -- events (tsdb_mixed) -------------------------------------------------

#: One round is one simulated day; the table holds ``ttl_us`` of them,
#: so once the history is in, retention drops one day per round. Step,
#: TTL and out-of-order span are whole days. Users and rows per day
#: follow the sf0.1 ``events`` table of TESTDATA.md: 1,500 users and
#: 100,000 rows over 30 days.
TSDB = dict(
    n_users=1500,
    zipf_a=1.1,
    rows_per_round=3400,
    files_per_round=4,
    step_us=DAY_US,
    ttl_us=7 * DAY_US,
    ooo_share=0.10,
    ooo_span_us=2 * DAY_US,
    past_ttl_share=0.05,
    history_rounds=7,
)


def sim_now_us(round_idx: int, cfg: dict = TSDB) -> int:
    """Simulated clock at the end of round ``round_idx``."""
    return ANCHOR_US + (round_idx + 1) * cfg["step_us"]


#: No generated row falls within this margin of midnight. Every TTL
#: cutoff and retention floor is a midnight (rounds are whole days), and
#: the streaming gate applies its cutoff against the wall clock a few
#: seconds after the TTL is computed: the margin keeps that drift from
#: moving a row across a cutoff.
MIDNIGHT_MARGIN_US = 10 * 60 * US


def day_times(r: np.random.Generator, first_day_us: int, n_days: int, size: int) -> np.ndarray:
    """Uniform timestamps over ``n_days`` whole days from midnight
    ``first_day_us``, keeping ``MIDNIGHT_MARGIN_US`` clear of each
    midnight."""
    days = r.integers(0, n_days, size)
    tod = r.integers(MIDNIGHT_MARGIN_US, DAY_US - MIDNIGHT_MARGIN_US, size)
    return first_day_us + days * DAY_US + tod


def event_batch(seed: int, round_idx: int, first_event_id: int, cfg: dict = TSDB) -> dict:
    """One landing batch: rows in arrival order, event ids increasing.

    Most rows fall in the last day of the simulated clock; a share
    arrives out of order (up to ``ooo_span_us`` late, still inside the
    TTL) and a share is already up to two days past the TTL."""
    r = rng(seed, 1, round_idx)
    n = cfg["rows_per_round"]
    now = sim_now_us(round_idx, cfg)
    n_past = int(n * cfg["past_ttl_share"])
    n_ooo = int(n * cfg["ooo_share"])
    n_recent = n - n_past - n_ooo
    step_days = cfg["step_us"] // DAY_US
    recent = np.sort(day_times(r, now - cfg["step_us"], step_days, n_recent))
    ooo = day_times(r, now - cfg["ooo_span_us"], (cfg["ooo_span_us"] - cfg["step_us"]) // DAY_US, n_ooo)
    past = day_times(r, now - cfg["ttl_us"] - 2 * DAY_US, 2, n_past)
    ts = np.concatenate([recent, ooo, past])
    # late rows land at random positions among the in-order ones
    ts = ts[r.permutation(n)]
    return {
        "event_id": np.arange(first_event_id, first_event_id + n, dtype=np.int64),
        "ts": ts.astype(np.int64),
        "user_id": zipf_choice(r, cfg["n_users"], cfg["zipf_a"], n),
        "event_type": r.integers(0, len(EVENT_TYPES), n),
        "value": r.integers(1, 50_000, n) / 100.0,
        "props": r.integers(0, 100, n),
    }


def events_table(batch: dict, ts_unit: str = "us") -> pa.Table:
    """Event rows with ``ts`` in ``ts_unit`` (the unit of ``batch["ts"]``)."""
    return pa.table(
        {
            "event_id": pa.array(batch["event_id"], pa.int64()),
            "ts": pa.array(batch["ts"], pa.timestamp(ts_unit)),
            "user_id": pa.array(batch["user_id"], pa.int64()),
            "event_type": pa.array(EVENT_TYPES[batch["event_type"]], pa.string()),
            "value": pa.array(batch["value"], pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in batch["props"]], pa.string()),
        }
    )


def land_batch(batch: dict, source_dir: str, round_idx: int, n_files: int) -> int:
    """Write a batch as ``n_files`` parquet files (each one a client's
    insert batch). Files are written under a dot-name and renamed, so
    the file-stream source never lists a half-written file. Returns the
    Arrow byte size of the rows."""
    table = events_table(batch)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        name = f"batch-{round_idx:05d}-{i:02d}.parquet"
        tmp = os.path.join(source_dir, "." + name)
        _write(part, tmp)
        os.rename(tmp, os.path.join(source_dir, name))
    return table.nbytes


def facade_rows(
    seed: int, round_idx: int, write_idx: int, n_rows: int, n_keys: int, first_id: int
) -> list[dict]:
    """Rows for one ``db.insert`` call on the facade table: keys drawn
    from a small key space so later writes overwrite earlier ones
    (last-write-wins under the primary key), stamped inside the last
    step of the simulated clock. Rows carry an ``event_id`` because
    ``db.compact`` sorts every table by (ts, event_id)."""
    r = rng(seed, 2, round_idx, write_idx)
    now = sim_now_us(round_idx)
    ts = np.sort(day_times(r, now - TSDB["step_us"], TSDB["step_us"] // DAY_US, n_rows))
    keys = r.choice(n_keys, size=n_rows, replace=False)
    vals = r.integers(0, 100_000, n_rows) / 100.0
    return [
        {"ts": us_to_dt(int(t)), "event_id": first_id + i, "key": f"k{int(k):05d}", "value": float(v)}
        for i, (t, k, v) in enumerate(zip(ts, keys, vals))
    ]


def us_to_dt(us: int) -> dt.datetime:
    """Naive UTC datetime (the facade and the scans take naive UTC)."""
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


# -- star corpus (analytics_star) ---------------------------------------

def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables (region, nation, customer, supplier, part,
    orders, lineitem) plus an ``events`` table, with the column names,
    types and value domains the registered queries and their SQL
    oracles expect. ``scale`` 0.1 gives the row counts of the sf0.1
    corpus of TESTDATA.md: 15,000 customers, 150,000 orders, ~600,000
    line items and 100,000 events. ``events.ts`` is parquet
    TIMESTAMP(NANOS) with sub-microsecond digits, the form
    ``catalog._normalize`` converts (and its time-range pushdown reads)."""
    r = rng(seed, 3)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": r.integers(-99_999, 1_000_000, n_cust) / 100.0,
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[r.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": r.integers(-99_999, 1_000_000, n_supp) / 100.0,
        }
    )
    adjs = np.array(["small", "large", "shiny", "plain", "brushed"])
    nouns = np.array(["ring", "bolt", "gear", "plate", "valve"])
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(
                np.char.add(adjs[r.integers(0, 5, n_part)], " "),
                nouns[r.integers(0, 5, n_part)],
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 6, n_part).astype(str)),
            "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[
                r.integers(0, 4, n_part)
            ],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": (90_000 + r.integers(0, 110_000, n_part)) / 100.0,
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    o_date = day0 + r.integers(0, 2400, n_ord).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            # a tenth of the customers never order (anti-join has rows)
            "o_custkey": pa.array(r.integers(0, n_cust * 9 // 10, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": r.integers(100_000, 50_000_000, n_ord) / 100.0,
            "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, n_ord)],
        }
    )
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    l_ship = np.repeat(o_date, lines) + r.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.integers(90_000, 210_000, n_li) / 100.0, 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(l_ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    ev_us = np.sort(ANCHOR_US - 60 * DAY_US + r.integers(0, 30 * DAY_US, n_ev))
    events = events_table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_us * 1000 + r.integers(0, 1000, n_ev),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": r.integers(0, len(EVENT_TYPES), n_ev),
            "value": r.integers(1, 50_000, n_ev) / 100.0,
            "props": r.integers(0, 100, n_ev),
        },
        ts_unit="ns",
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
    }


# -- documents (llm_dedup) ----------------------------------------------

_SYLLABLES = np.array(
    ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "gu", "zen",
     "or", "fi", "bal", "tem", "qua", "sor", "lin", "mar"]
)


def _vocab(r: np.random.Generator, n_words: int) -> np.ndarray:
    """Distinct pseudo-words of 2-4 syllables."""
    words: set[str] = set()
    while len(words) < n_words:
        k = int(r.integers(2, 5))
        words.add("".join(_SYLLABLES[r.integers(0, len(_SYLLABLES), k)]))
    return np.array(sorted(words))


#: ``dup_share`` of the documents belong to near-duplicate clusters of
#: ``cluster_size``: one original plus copies that each replace
#: ``edit_share`` of its tokens, drawn from ``n_words`` pseudo-words.
DOCS = dict(dup_share=0.3, cluster_size=3, edit_share=0.03, n_words=4000)


def documents(seed: int, n_docs: int) -> tuple[pa.Table, set[tuple[int, int]]]:
    """Document corpus with injected near-duplicate clusters (``DOCS``).

    The edit share keeps every in-cluster word-trigram Jaccard near 0.8
    or above. Returns the table and the ground-truth pairs (every
    in-cluster pair, ``a < b``). Doc ids are shuffled so cluster members
    are not adjacent."""
    dup_share, cluster_size = DOCS["dup_share"], DOCS["cluster_size"]
    edit_share, n_words = DOCS["edit_share"], DOCS["n_words"]
    r = rng(seed, 4)
    vocab = _vocab(r, n_words)
    n_clusters = int(n_docs * dup_share) // cluster_size
    n_single = n_docs - n_clusters * cluster_size
    ids = r.permutation(n_docs).astype(np.int64)
    texts: list[str] = []
    truth: set[tuple[int, int]] = set()
    pos = 0

    def fresh() -> np.ndarray:
        return r.integers(0, n_words, int(r.integers(40, 120)))

    for _ in range(n_clusters):
        base = fresh()
        members = [base]
        for _c in range(cluster_size - 1):
            copy = base.copy()
            n_edit = max(1, int(len(copy) * edit_share))
            where = r.choice(len(copy), n_edit, replace=False)
            copy[where] = r.integers(0, n_words, n_edit)
            members.append(copy)
        cid = ids[pos : pos + cluster_size]
        for i in range(cluster_size):
            for j in range(i + 1, cluster_size):
                truth.add((int(min(cid[i], cid[j])), int(max(cid[i], cid[j]))))
        texts.extend(" ".join(vocab[m]) for m in members)
        pos += cluster_size
    texts.extend(" ".join(vocab[fresh()]) for _ in range(n_single))
    order = np.argsort(ids)
    doc_ids = ids[order]
    text_arr = np.array(texts, dtype=object)[order]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(list(text_arr), pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{int(i) % 7}" for i in doc_ids], pa.string()),
            "n_chars": pa.array([len(t) for t in text_arr], pa.int64()),
        }
    )
    return table, truth


# -- embeddings (llm_dedup) ---------------------------------------------

#: Embedding shape: 64-d with 10 labels, as the sf0.1 ``embeddings``
#: table; ``spread`` is each cluster's per-dimension standard deviation
#: around a unit-normal centre.
EMB = dict(dim=64, n_clusters=10, spread=0.35)


def embeddings(seed: int, n_vecs: int, n_probes: int) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """Gaussian-cluster embeddings (float32, ``EMB``) with their cluster
    label, and ``n_probes`` probe ids drawn from the corpus. Ids are a
    permutation, so the low ids that seed k-means are random points.
    Returns (table, vectors indexed by vec_id, probe ids)."""
    dim, n_clusters, spread = EMB["dim"], EMB["n_clusters"], EMB["spread"]
    r = rng(seed, 5)
    centers = r.normal(0.0, 1.0, (n_clusters, dim))
    labels = r.integers(0, n_clusters, n_vecs)
    vecs = (centers[labels] + r.normal(0.0, spread, (n_vecs, dim))).astype(np.float32)
    ids = r.permutation(n_vecs).astype(np.int64)
    order = np.argsort(ids)
    vecs, labels = vecs[order], labels[order]
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    probes = np.sort(r.choice(n_vecs, n_probes, replace=False)).astype(np.int64)
    return table, vecs, probes


def write_corpus(corpus_dir: str, tables: dict[str, pa.Table]) -> dict[str, int]:
    """Write each table as ``{corpus_dir}/{name}.parquet`` (the layout
    ``chronobase_spark.catalog`` reads). Returns Arrow bytes per table."""
    os.makedirs(corpus_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(corpus_dir, f"{name}.parquet"))
    return {name: t.nbytes for name, t in tables.items()}
