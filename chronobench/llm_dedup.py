"""The LLM-pipeline phase of ``analytics_star``: near-duplicate removal
and vector search.

Each pass runs ``minhash_dedup_pairs`` then ``connected_components``
over a generated document corpus with injected near-duplicate clusters,
then an IVF top-10 search (``ivf_kmeans_topk``) for a batch of probes
over a Gaussian-cluster embedding set. The traced run adds one PQ
asymmetric-distance search (``pq_adc_topk``) after the timed loop.

Checks, outside the timed region: verified pairs recall the injected pairs, a sample of them has its
Jaccard recomputed in Python, cluster labels equal a Python union-find,
IVF recall@10 against numpy's exact neighbours stays above a floor, and
(after the loop) exact ``topk_cosine`` equals numpy brute force.
"""

from __future__ import annotations

import re
import time

import numpy as np
from pyspark.sql import functions as F

import gen
from harness import median

from chronobase_spark import catalog
from chronobase_spark.dedup import cluster, minhash
from chronobase_spark.functions import similarity

#: Corpus sizes of the sf0.1 ``documents`` and ``embeddings`` tables
#: (TESTDATA.md).
N_DOCS = 5000
N_VECS = 2000
N_PROBES = 32
K = 10
#: Quality floors: a pass below them counts as a failed operation.
MIN_PAIR_RECALL = 0.85
MIN_KNN_RECALL = 0.8
JACCARD_SAMPLE = 50


class State:
    def __init__(self, corpus: str):
        self.corpus = corpus
        self.docs = self.emb = None
        self.truth: set[tuple[int, int]] = set()
        self.texts: dict[int, str] = {}
        self.vecs = np.zeros(0)
        self.probes = np.zeros(0, np.int64)
        self.passes = 0
        self.dedup_s: list[float] = []
        self.pairs_s: list[float] = []
        self.cluster_s: list[float] = []
        self.search_ms: list[float] = []
        self.pass_s: list[float] = []
        self.pair_recall: list[float] = []
        self.knn_recall: list[float] = []
        self.exact: dict[int, set[int]] | None = None
        self.n_pairs: list[int] = []


def setup(b, corpus: str) -> State:
    """Write ``documents`` and ``embeddings`` into ``corpus``, load them,
    and run one warm-up pass."""
    st = State(corpus)
    docs, st.truth = gen.documents(b.seed, N_DOCS)
    emb, st.vecs, st.probes = gen.embeddings(b.seed, N_VECS, N_PROBES)
    st.texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    gen.write_corpus(st.corpus, {"documents": docs, "embeddings": emb})
    with b.tr.span("catalog.load_tables"):
        st.docs = catalog.table(b.spark, st.corpus, "documents")
        st.emb = catalog.table(b.spark, st.corpus, "embeddings")
    run_pass(b, st, warm=True)
    return st


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _jaccard(a: str, b: str, n: int = 3) -> float:
    ta, tb = _tokens(a), _tokens(b)
    sa = {" ".join(ta[i : i + n]) for i in range(len(ta) - n + 1)}
    sb = {" ".join(tb[i : i + n]) for i in range(len(tb) - n + 1)}
    return round(len(sa & sb) / len(sa | sb), 6)


def _components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, c in pairs:
        ra, rc = find(a), find(c)
        if ra != rc:
            parent[max(ra, rc)] = min(ra, rc)
    return {x: find(x) for x in list(parent)}


def _exact_topk(st: State) -> dict[int, np.ndarray]:
    v = st.vecs.astype(np.float64)
    nrm = np.sqrt((v * v).sum(axis=1))
    out = {}
    for q in st.probes:
        sims = np.round(v @ v[q] / (nrm * nrm[q]), 6)
        sims[q] = -np.inf
        out[int(q)] = sims
    return out


def run_pass(b, st: State, warm: bool = False) -> None:
    t0 = time.perf_counter()
    u0 = b.untimed_s
    # -- dedup: pairs, then clusters ------------------------------------
    b.op()
    try:
        t1 = time.perf_counter()
        with b.tr.span("dedup.pairs"):
            pairs_df = minhash.minhash_dedup_pairs(st.docs).persist()
            pairs = [(int(r[0]), int(r[1]), float(r[2])) for r in pairs_df.collect()]
        t2 = time.perf_counter()
        with b.tr.span("dedup.cluster"):
            labels = {int(r[0]): int(r[1]) for r in cluster.connected_components(pairs_df).collect()}
        t3 = time.perf_counter()
        pairs_df.unpersist()
    except Exception:
        b.error("dedup")
        labels, pairs = None, []
    if labels is not None:
        st.dedup_s.append(t3 - t1)
        st.pairs_s.append(t2 - t1)
        st.cluster_s.append(t3 - t2)
        st.n_pairs.append(len(pairs))
        with b.untimed():
            found = {(a, c) for a, c, _j in pairs}
            recall = len(found & st.truth) / len(st.truth)
            st.pair_recall.append(recall)
            b.check(recall >= MIN_PAIR_RECALL, f"dedup pair recall {recall:.3f}")
            r = gen.rng(b.seed, 8, st.passes)
            sample = [pairs[i] for i in r.choice(len(pairs), min(JACCARD_SAMPLE, len(pairs)), replace=False)]
            bad = [(a, c, j) for a, c, j in sample if _jaccard(st.texts[a], st.texts[c]) != j]
            b.check(not bad, f"jaccard recomputed differs for {bad[:3]}")
            b.check(labels == _components([(a, c) for a, c, _j in pairs]), "cluster labels differ from union-find")
    # -- vector search ---------------------------------------------------
    probe_ids = [int(x) for x in st.probes]
    b.op()
    try:
        t1 = time.perf_counter()
        with b.tr.span("similarity.ivf_search"):
            rows = similarity.ivf_kmeans_topk(st.emb, probe_ids, k=K).collect()
        st.search_ms.append((time.perf_counter() - t1) * 1e3)
    except Exception:
        b.error("ivf_kmeans_topk")
        rows = None
    if rows is not None:
        with b.untimed():
            got: dict[int, set[int]] = {}
            for row in rows:
                got.setdefault(int(row["q_id"]), set()).add(int(row["n_id"]))
            if st.exact is None:
                st.exact = _exact_reference(st)
            recall = float(np.mean([len(got.get(q, set()) & ids) / K for q, ids in st.exact.items()]))
            st.knn_recall.append(recall)
            b.check(recall >= MIN_KNN_RECALL, f"ivf recall@{K} {recall:.3f}")
    st.passes += 1
    if not warm:
        st.pass_s.append(time.perf_counter() - t0 - (b.untimed_s - u0))
    else:
        for lst in (st.dedup_s, st.pairs_s, st.cluster_s, st.search_ms, st.pair_recall, st.knn_recall, st.n_pairs):
            lst.clear()


def _exact_reference(st: State) -> dict[int, set[int]]:
    """Exact top-k neighbour sets from numpy brute force (ties broken by
    id, as ``topk_cosine`` breaks them)."""
    return {
        q: {int(i) for i in np.lexsort((np.arange(len(sims)), -sims))[:K]}
        for q, sims in _exact_topk(st).items()
    }


def _check_exact(b, st: State) -> None:
    """Exact ``topk_cosine`` against numpy brute force, one operation per
    probe: every returned neighbour's similarity matches numpy's to
    2e-6 and is within rounding of the probe's true k-th best."""
    probes = st.emb.filter(F.col("vec_id").isin([int(x) for x in st.probes]))
    rows = similarity.topk_cosine(probes, st.emb, K).collect()
    got: dict[int, list[tuple[int, float]]] = {}
    for row in rows:
        got.setdefault(int(row["q_id"]), []).append((int(row["n_id"]), float(row["sim"])))
    for q, sims in _exact_topk(st).items():
        b.op()
        kth = np.sort(sims)[-K]
        pairs = got.get(q, [])
        ok = len(pairs) == K and all(sims[i] >= kth - 2e-6 and abs(sims[i] - s) <= 2e-6 for i, s in pairs)
        b.check(ok, f"topk_cosine probe {q} differs from numpy")


def finish(b, st: State) -> dict:
    """The exact top-k check; per-layer metrics in a traced run."""
    _check_exact(b, st)
    return _layer_metrics(b, st) if b.trace else {}


def _layer_metrics(b, st: State) -> dict:
    """Sub-stage costs of the dedup pipeline, measured by calling its
    public stages one at a time after the timed loop: signature
    (``minhash_signature``), banding (``lsh_candidates``); verify is
    the rest of ``minhash_dedup_pairs``. Each stage, the k-means index
    build and one PQ search run once untimed first, so their timings
    are warm like the loop's."""
    tr = b.tr
    out = {
        "dedup.docs_per_s": N_DOCS / median(st.dedup_s) if st.dedup_s else 0.0,
        "dedup.pair_recall": median(st.pair_recall),
        "dedup.cluster_s": median(st.cluster_s),
        "dedup.verified_pairs": median(st.n_pairs),
        "similarity.recall_at_10": median(st.knn_recall),
        "similarity.search_s": median(st.search_ms) / 1e3,
        "similarity.queries_per_s": N_PROBES / (median(st.search_ms) / 1e3) if st.search_ms else 0.0,
    }
    probe = int(st.probes[0])
    for _warm in (True, False):
        t0 = time.perf_counter()
        with tr.span("dedup.signature"):
            sigs = minhash.minhash_signature(st.docs).persist()
            sigs.count()
        t1 = time.perf_counter()
        with tr.span("dedup.lsh"):
            cands = minhash.lsh_candidates(sigs).count()
        t2 = time.perf_counter()
        sigs.unpersist()
        with tr.span("similarity.index_build"):
            cells = {
                int(r[0]): int(r[1])
                for r in similarity.kmeans_lloyd(st.emb).select("vec_id", "assigned").collect()
            }
        t3 = time.perf_counter()
        with tr.span("similarity.pq_search"):
            pq = [int(r[0]) for r in similarity.pq_adc_topk(st.emb, probe, k=K).collect()]
        t4 = time.perf_counter()
    size: dict[int, int] = {}
    for c in cells.values():
        size[c] = size.get(c, 0) + 1
    out["dedup.signature_s"] = t1 - t0
    out["dedup.lsh_s"] = t2 - t1
    out["dedup.verify_s"] = max(0.0, median(st.pairs_s) - (t2 - t0))
    out["dedup.candidate_pairs"] = cands
    out["dedup.verify_yield"] = median(st.n_pairs) / cands if cands else 0.0
    out["similarity.index_build_s"] = t3 - t2
    # IVF scores every other member of the probe's cell
    out["similarity.candidates_per_query"] = float(np.mean([size[cells[int(q)]] - 1 for q in st.probes]))
    # one PQ asymmetric-distance search (single probe) against exact L2
    out["similarity.pq_search_ms"] = (t4 - t3) * 1e3
    d = ((st.vecs.astype(np.float64) - st.vecs[probe]) ** 2).sum(axis=1)
    d[probe] = np.inf
    out["similarity.pq_recall_at_10"] = len(set(pq) & set(np.argsort(d, kind="stable")[:K].tolist())) / K
    return out
