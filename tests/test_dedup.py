"""Semantics pinning for the near-dup operators: the xxhash64 MinHash-LSH,
which has no SQL oracle, and the md5 MinHash/SimHash finders must agree
with exact brute-force ground truth at small scale.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import catalog  # noqa: E402
from chronobase_spark.dedup import minhash, ngram, simhash  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402


@pytest.fixture(scope="module")
def docs(spark):
    return catalog.table(spark, SF_SMOKE, "documents").cache()


def test_minhash_finds_true_near_dups(spark, docs):
    """Every brute-force Jaccard>=0.8 pair must be recovered by the LSH
    pipeline at its 0.5 threshold (16 bands × 8 rows ⇒ P(miss at 0.8)
    ≈ (1-0.8^8)^16 ≈ 2%, and the planted corpus dups are at jaccard ≈
    1.0 where P(miss) ≈ 0)."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram.jaccard_pairs(docs, threshold=0.8).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash.minhash_dedup_pairs(docs).collect()
    }
    assert truth, "corpus should contain planted near-duplicates"
    assert truth <= found | truth and len(truth - found) == 0, (
        f"LSH missed {truth - found}"
    )


def test_minhash_no_false_positives_below_threshold(spark, docs):
    """Verified pairs must genuinely meet the Jaccard threshold (the
    exact-verify stage makes LSH candidates precise)."""
    pairs = minhash.minhash_dedup_pairs(docs).collect()
    assert all(r["jaccard"] >= 0.5 for r in pairs)


def test_connected_components_matches_union_find(spark):
    """Min-label propagation must equal a sequential union-find on an
    edge list with chains (a~b, b~c but never a~c), cliques, and
    isolated pairs — transitivity is the whole point."""
    from chronobase_spark.dedup import cluster

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> one component {1,2,3,4}
        (10, 11), (11, 10),              # duplicate/reversed edge
        (20, 21), (21, 22), (20, 22),    # triangle
        (30, 31),
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["id"]: r["label"]
        for r in cluster.connected_components(df).collect()
    }
    assert got == want

    empty = cluster.connected_components(
        spark.createDataFrame([], "doc_a long, doc_b long")
    )
    assert empty.columns == ["id", "label"] and empty.count() == 0


def test_connected_components_plan_size_is_independent_of_diameter(spark):
    """Each round's labels refer to the previous generation twice (union
    side and join side), so an untruncated plan doubles per round and
    analysis time grows exponentially with the path length. The
    returned frame's logical plan must have one size whatever the round
    count and whatever the lineage of the input edges; a 12-hop path
    then converges within the default ``max_iter`` to label 0."""
    from chronobase_spark.dedup import cluster

    def path(hops):
        # the longer path also gets a longer input lineage
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(hops)], "doc_a long, doc_b long"
        )
        return e if hops == 2 else e.filter("doc_a >= 0").union(e.limit(1))

    def plan_lines(df):
        return len(df._jdf.queryExecution().logical().toString().splitlines())

    sizes = {}
    for hops in (2, 5, 12):
        labels = cluster.connected_components(path(hops))
        sizes[hops] = plan_lines(labels)
        assert len(set(sizes.values())) == 1, f"plan lines by hop count: {sizes}"
        rows = labels.collect()
        assert len(rows) == hops + 1
        assert all(r["label"] == 0 for r in rows)


def test_lsh_candidates_rejects_short_signatures(spark, docs):
    """A signature shorter than the 16 x 8 banding must raise, not
    silently hash empty band slices identically (which would collapse
    the band join toward all-pairs); NULL signatures stay allowed."""
    sigs16 = minhash.minhash_signature(docs.limit(20)).withColumn(
        "sig", F.slice("sig", 1, 16)
    )
    with pytest.raises(Exception, match="16 lanes, expected 128"):
        minhash.lsh_candidates(sigs16).collect()
    # NULL signatures never pair and never trip the guard
    nulls = sigs16.withColumn("sig", F.lit(None).cast("array<bigint>"))
    assert minhash.lsh_candidates(nulls).count() == 0


def _py_levenshtein(a: str, b: str) -> int:
    """Reference DP — the classic O(n*m) kernel, for pinning the
    engine's built-in against ground truth."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_levenshtein_pairs_find_planted_edit_dups(spark):
    """A doc and its few-edit variant (shared prefix) must pair with
    the exact distance; unrelated docs and different-prefix docs must
    not pair."""
    from chronobase_spark.dedup import edit

    base = "the quick brown fox jumps over the lazy dog " * 3
    variant = base.replace("lazy dog", "hazy bog", 1)  # 2 substitutions
    other_prefix = "a completely different opening sentence " + base
    rows = [
        (1, base, "en"),
        (2, variant, "en"),
        (3, other_prefix, "en"),
        (4, "unrelated text entirely about something else", "en"),
        (5, base, "es"),  # same text, different lang -> different canopy
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {
        (r["doc_a"], r["doc_b"]): r["lev_dist"]
        for r in edit.levenshtein_near_pairs(df).collect()
    }
    assert got == {(1, 2): _py_levenshtein(base, variant)}


def test_levenshtein_pairs_distances_match_reference_dp(spark, docs):
    """Every returned corpus pair's distance equals the pure-Python DP
    and meets the relative threshold."""
    from chronobase_spark.dedup import edit

    pairs = edit.levenshtein_near_pairs(docs).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert pairs, "smoke corpus should contain planted near-identical docs"
    for r in pairs:
        a, b = texts[r["doc_a"]], texts[r["doc_b"]]
        assert r["lev_dist"] == _py_levenshtein(a, b)
        assert r["lev_dist"] <= 0.3 * max(len(a), len(b))


def _py_bpe(texts: list[str], n_merges: int):
    """Reference BPE trainer (Sennrich et al. 2016, list-based merge —
    deliberately NOT the string-replace encoding the Spark/DuckDB
    implementations use, so the boundary-guard trick is proven against
    the classic algorithm, not against itself)."""
    import re
    from collections import Counter

    vocab: dict[tuple[str, ...], int] = Counter()
    for t in texts:
        for w in re.findall("[a-z]+", t.lower()):
            vocab[tuple(w)] += 1
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference_python(spark):
    """The DataFrame BPE trainer must reproduce the classic Python BPE
    exactly — merge order, pair choice, AND counts — on a toy corpus
    engineered to exercise overlap (aaaa), tie-breaks, and merged
    symbols re-merging in later rounds (ab+ab after a+b)."""
    from chronobase_spark.functions import bpe

    texts = [
        "aaaa abab banana bandana low lower lowest low low",
        "newer newest wider widest new new new banana",
        "abab abab cabbage aaa aa",
    ]
    expected = _py_bpe(texts, 10)
    assert len(expected) == 10
    docs = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], int(r["pair_count"]))
        for r in bpe.bpe_merges(spark, docs, n_merges=10)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expected


def test_bpe_early_stop_when_pairs_exhausted(spark):
    """Single-letter vocabulary: zero possible merges -> empty table,
    no crash, stable schema."""
    from chronobase_spark.functions import bpe

    docs = spark.createDataFrame([("a b c a b",)], ["text"])
    out = bpe.bpe_merges(spark, docs, n_merges=5)
    assert out.columns == ["merge_rank", "left_sym", "right_sym", "pair_count"]
    assert out.count() == 0


def test_bpe_trained_token_counts_match_reference(spark):
    """Applying the trained merges: per-doc token counts equal the
    classic Python segmentation (merges applied in rank order, greedy
    left-to-right within each rule)."""
    import re

    from chronobase_spark.functions import bpe

    texts = [
        "aaaa abab banana bandana low lower lowest low low",
        "newer newest wider widest new new new banana",
        "abab abab cabbage aaa aa",
    ]
    merges = _py_bpe(texts, 10)

    def segment(word: str) -> int:
        syms = list(word)
        for _rank, a, b, _cnt in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    expected = {
        did: sum(segment(w) for w in re.findall("[a-z]+", t.lower()))
        for did, t in enumerate(texts)
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: int(r["n_bpe_tokens"])
        for r in bpe.doc_trained_token_counts(spark, docs, n_merges=10).collect()
    }
    assert got == expected


def test_md5_twins_find_planted_near_dups(spark, docs):
    """The portable-hash (oracle-checked) minhash/simhash twins must
    still FIND near-duplicates — portability must not have cost the
    operators their semantics. Ground truth: exact 3-gram Jaccard."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram.jaccard_pairs(docs, threshold=0.95).collect()
    }
    assert truth, "smoke corpus should contain planted near-identical docs"

    mh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash.minhash_md5_pairs(docs).collect()
    }
    assert truth <= mh, f"md5 minhash missed exact near-dups: {truth - mh}"

    sh = {
        (r["doc_a"], r["doc_b"])
        for r in simhash.simhash_md5_near_pairs(docs).collect()
    }
    missed = truth - sh
    assert len(missed) <= len(truth) // 4, f"md5 simhash missed too many: {missed}"


def test_winnow_fingerprints_match_reference_python(spark):
    """The DataFrame winnower must select exactly the fingerprints the
    textbook MOSS algorithm selects (positional 4-gram hashes, min per
    4-window, distinct) — including short-doc edge cases (< k tokens,
    < w grams)."""
    import hashlib
    import re

    from chronobase_spark.dedup import winnow

    def py_winnow(text: str, k: int = 4, w: int = 4) -> set[int]:
        cleaned = re.sub(r"[^a-z0-9\s]", " ", text.lower())
        tk = [t for t in re.split(r"\s+", cleaned.strip()) if t]
        grams = [" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]
        h = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        return {min(h[i : i + w]) for i in range(len(h) - w + 1)}

    texts = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the hazy bog again and again today",
        "too few words here",  # 4 tokens -> 1 gram -> 0 windows
        "tiny",  # < k tokens -> 0 grams
        "one two three four five six seven",  # 4 grams -> exactly 1 window
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got: dict[int, set[int]] = {}
    for r in winnow.winnow_fingerprints(docs).collect():
        got.setdefault(r["doc"], set()).add(int(r["fp"]))
    expected = {
        i: py_winnow(t) for i, t in enumerate(texts) if py_winnow(t)
    }
    assert got == expected


def test_winnow_fingerprints_no_null_fp_at_token_boundary(spark):
    """``winnow_fingerprints`` keeps docs with >= k+w-1 tokens and then
    uses explode_outer, which would emit a NULL ``fp`` for a kept doc
    with no selected fingerprint. At k+w-2 tokens the doc must emit no
    row; at k+w-1 tokens it must emit exactly one, non-NULL."""
    from chronobase_spark.dedup import winnow

    k, w = winnow.K, winnow.W
    docs = spark.createDataFrame(
        [
            (n, " ".join(f"tok{i}" for i in range(n)))
            for n in (k + w - 2, k + w - 1)
        ],
        ["doc_id", "text"],
    )
    rows = winnow.winnow_fingerprints(docs, k=k, w=w).collect()
    assert [r["doc"] for r in rows] == [k + w - 1]
    assert all(r["fp"] is not None for r in rows)


def test_winnow_dup_pairs_match_brute_force(spark):
    """The posting-list pair generation (r17: collect_list over the
    max_df-pruned postings + bounded explode, replacing the fp
    self-join) must emit exactly the brute-force pair counts: for every
    doc pair, n_shared = |common selected fingerprints with df ≤
    max_df|, kept iff ≥ min_shared — including a hot fingerprint
    shared by ALL docs that the max_df prune must exclude."""
    import hashlib
    import re

    from chronobase_spark.dedup import winnow

    def py_winnow(text: str, k: int = 4, w: int = 4) -> set[int]:
        cleaned = re.sub(r"[^a-z0-9\s]", " ", text.lower())
        tk = [t for t in re.split(r"\s+", cleaned.strip()) if t]
        grams = [" ".join(tk[i : i + k]) for i in range(len(tk) - k + 1)]
        h = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        return {min(h[i : i + w]) for i in range(len(h) - w + 1)}

    # shared boilerplate tail on every doc -> a hot fingerprint with
    # df == n_docs, pruned at max_df = 3 on this 4-doc corpus
    boiler = "all rights reserved by the example corporation of example town"
    texts = [
        f"the quick brown fox jumps over the lazy dog again today {boiler}",
        f"the quick brown fox jumps over the lazy dog again tomorrow {boiler}",
        f"a completely different document about winnowing fingerprints here {boiler}",
        f"a completely different document about winnowing fingerprints there {boiler}",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    max_df, min_shared = 3, 1
    fps = {i: py_winnow(t) for i, t in enumerate(texts)}
    from collections import Counter

    df_count = Counter(fp for s in fps.values() for fp in s)
    rare = {i: {fp for fp in s if df_count[fp] <= max_df} for i, s in fps.items()}
    assert any(c > max_df for c in df_count.values()), "fixture lacks a hot fp"
    expected = {}
    ids = sorted(fps)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            n = len(rare[ids[ai]] & rare[ids[bi]])
            if n >= min_shared:
                expected[(ids[ai], ids[bi])] = n
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow.winnow_dup_pairs(
            docs, min_shared=min_shared, max_df=max_df
        ).collect()
    }
    assert got == expected


def test_bigram_lm_scores_match_reference_python(spark):
    """The DataFrame bigram LM must reproduce a transparent pure-Python
    add-one-smoothed bigram LM exactly — vocabulary size, per-gram
    micro-nat terms (including the half-up rounding), and per-doc
    weighted totals — on a toy corpus with repeated grams, a
    single-token doc (no bigrams → no row), and shared contexts."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from chronobase_spark.functions import text as textf

    texts = [
        "the cat sat on the mat",
        "the cat ate the cat food",
        "solo",
        "on the mat the cat sat",
    ]
    toks = [t.split() for t in texts]
    vocab = {w for tk in toks for w in tk}
    c12: Counter = Counter()
    c1: Counter = Counter()
    for tk in toks:
        for a, b in zip(tk, tk[1:]):
            c12[(a, b)] += 1
            c1[a] += 1

    def term_micro(a, b):
        p = (c12[(a, b)] + 1.0) / (c1[a] + float(len(vocab)))
        # Spark F.round rounds half AWAY from zero; ln terms are
        # negative, so mirror with Decimal half-up on the abs value
        d = Decimal(repr(math.log(p) * 1e6)).quantize(0, rounding=ROUND_HALF_UP)
        return int(d)

    want = {}
    for i, tk in enumerate(toks):
        grams = list(zip(tk, tk[1:]))
        if grams:
            want[i] = (len(grams), sum(term_micro(a, b) for a, b in grams))

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["logprob_micro"])
        for r in textf.bigram_lm_scores(docs).collect()
    }
    assert got == want


def test_bpe_token_count_oracle_survives_merge_exhaustion(spark):
    """When BPE training exhausts pairs before n_merges rounds, the
    DuckDB token-count oracle must keep the vocab chain alive (empty
    best{i} stages pass words through unchanged) and agree with the
    Spark side — the r7 review found the oracle's CROSS JOIN best{i}
    annihilated the chain and returned zero rows on degenerate
    corpora."""
    import duckdb
    import pandas as pd

    from chronobase_spark.functions import bpe

    for texts in [["a b c a b", "c c a"], ["ab ab", "ab"]]:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe.doc_trained_token_counts(spark, docs, n_merges=3).collect()
        }
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
        want = {
            int(r[0]): int(r[1])
            for r in con.execute(bpe.doc_token_counts_oracle_sql(3)).fetchall()
        }
        assert got == want and got, texts


def test_semantic_dedup_matches_bruteforce_within_cells(spark):
    """SemDeDup pin (Abbas et al. 2023 keep-one-per-group rule): the
    distributed kept/dropped assignment must equal a brute-force
    all-pairs within-cell cosine pass computed in plain Python with the
    EXACT same arithmetic — sequential float64 folds for dot/norm (the
    order functions.similarity fixes) and Spark's HALF_UP 6-dp rounding.
    Spark rounds doubles via BigDecimal.valueOf, i.e. the SHORTEST
    round-trip decimal string — so the mirror is Decimal(repr(c)), NOT
    Decimal(c) (the exact binary expansion): on a knife-edge cosine
    whose shortest repr ends in ...5 at 6 dp while the exact binary
    value sits just below it, the two disagree (FIXTURES.md; r9
    advisor note)."""
    from decimal import ROUND_HALF_UP, Decimal

    from chronobase_spark.dedup import embedding as emb

    df = catalog.table(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: (r["cell"], r["kept"])
        for r in emb.semantic_dedup(df, num_planes=8, min_cosine=0.35).collect()
    }

    planes = emb.hyperplanes(8)
    rows = df.filter(F.col("embedding").isNotNull()).collect()

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    cells: dict[int, int] = {}
    vecs: dict[int, list] = {}
    for r in rows:
        v = r["embedding"]
        sig = 0
        for i, p in enumerate(planes):
            if fold_dot(v, [float(x) for x in p]) >= 0:
                sig += 1 << i
        cells[r["vec_id"]] = sig
        vecs[r["vec_id"]] = v

    def cos6(a, b):
        import math

        c = fold_dot(a, b) / (
            math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        )
        return float(
            Decimal(repr(c)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    ids = sorted(vecs)
    want = {}
    for vid in ids:
        dropped = any(
            cells[o] == cells[vid] and o < vid and cos6(vecs[o], vecs[vid]) >= 0.35
            for o in ids
        )
        want[vid] = (cells[vid], not dropped)

    assert got == want
    assert any(not kept for _, kept in want.values()), (
        "corpus should contain planted semantic dups"
    )


def test_pagerank_matches_reference_python(spark):
    """graph_pagerank pinned against a straight-line Python power
    iteration stating the SAME integer arithmetic (rank div degree
    messages, teleport 150000, damping 850//1000) on a hand-built
    graph with a clear hub — proving the distributed loop against the
    algorithm, not against itself."""
    from chronobase_spark.dedup import cluster

    # star (0 is hub of 1..3) + a 2-clique + asymmetric path 6-7-8
    raw = [(0, 1), (0, 2), (0, 3), (4, 5), (6, 7), (7, 8)]
    pairs = spark.createDataFrame(raw, ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: (r["degree"], r["rank_micro"])
        for r in cluster.graph_pagerank(pairs, iters=3).collect()
    }

    adj: dict[int, list[int]] = {}
    for a, b in raw:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    ranks = {n: 1_000_000 for n in adj}
    for _ in range(3):
        nxt = {n: 0 for n in adj}
        for n, nbrs in adj.items():
            c = ranks[n] // len(nbrs)
            for m in nbrs:
                nxt[m] += c
        ranks = {n: 150_000 + (850 * s) // 1000 for n, s in nxt.items()}
    want = {n: (len(adj[n]), ranks[n]) for n in adj}

    assert got == want
    hub = max(ranks, key=ranks.get)
    assert hub == 0, "star hub must out-rank leaves"


# ---------------------------------------------------------------------------
# Content-defined chunking (dedup.cdc)
# ---------------------------------------------------------------------------


def _py_cdc_chunks(text: str | None) -> list[str]:
    """Independent pure-Python reference for the CDC chunker: cut after
    position i (1-based) when the polynomial fold of the trailing
    8-char window ≡ 0 (mod 64); chunks are the spans between cuts."""
    from chronobase_spark.dedup import cdc

    if text is None:
        return []
    n = len(text)
    cuts = []
    for i in range(cdc.CDC_WINDOW, n + 1):
        h = 0
        for ch in text[i - cdc.CDC_WINDOW : i]:
            h = (h * 31 + ord(ch)) % cdc.CDC_PRIME
        if h % cdc.CDC_MOD == 0:
            cuts.append(i)
    bounds = [0, *cuts, n]
    return [text[s:e] for s, e in zip(bounds, bounds[1:]) if e > s]


def _cdc_corpus():
    """Deterministic synthetic docs covering the edge classes: empty,
    sub-window, window-sized, long random-ish, and NULL."""
    import random

    rng = random.Random(42)
    alpha = "abcdefgh ijklmnop"
    long_doc = "".join(rng.choice(alpha) for _ in range(2000))
    return [
        (1, "", "web"),
        (2, "short", "web"),
        (3, "exactly8", "web"),
        (4, long_doc, "books"),
        (5, None, "books"),
        (6, "the quick brown fox jumps over the lazy dog " * 10, "web"),
    ]


def test_cdc_chunks_match_python_reference(spark):
    """Spark chunk_table must agree with the independent Python fold on
    every doc (bounds, order, text), and concatenating a doc's chunks
    must reconstruct the doc (lossless round-trip)."""
    from chronobase_spark.dedup import cdc

    rows = _cdc_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got: dict[int, list[str]] = {}
    for r in cdc.chunk_table(df, keep_text=True).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for doc_id, text, _src in rows:
        want = _py_cdc_chunks(text)
        have = [t for _, t in sorted(got.get(doc_id, []))]
        assert have == want, f"doc {doc_id}: {have!r} != {want!r}"
        if text:
            assert "".join(have) == text  # round-trip
        if text is None:
            assert doc_id not in got  # NULL text contributes no rows


def test_cdc_chunks_are_shift_resilient(spark):
    """The CDC property fixed-size chunking lacks: prepending bytes
    realigns at the next content-defined boundary, so all but the
    leading chunk(s) survive an insertion. A fixed-width chunker would
    shift EVERY boundary and share nothing."""
    base = _cdc_corpus()[3][1]  # the 2000-char doc
    edited = "INSERTED PREFIX " + base
    a, b = _py_cdc_chunks(base), _py_cdc_chunks(edited)
    assert len(a) >= 10, "doc long enough to chunk meaningfully"
    # common suffix of the two chunk lists
    k = 0
    while k < min(len(a), len(b)) and a[-1 - k] == b[-1 - k]:
        k += 1
    assert k >= len(a) - 2, (
        f"insertion should only disturb the leading chunk(s); "
        f"shared suffix {k} of {len(a)}"
    )


def test_cdc_stream_shape_agrees_with_batch_table(spark):
    """chunk_hashes (the one-row-per-doc streaming shape) must carry
    exactly the md5 sequence the exploded batch inventory derives, and
    empty/NULL docs must carry an empty array (not NULL)."""
    from chronobase_spark.dedup import cdc

    df = spark.createDataFrame(
        _cdc_corpus(), "doc_id long, text string, source string"
    )
    arr = {
        r["doc_id"]: r["chunk_md5s"]
        for r in cdc.chunk_hashes(df).collect()
    }
    tab: dict[int, list[str]] = {}
    for r in cdc.chunk_table(df).collect():
        tab.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_md5"]))
    for doc_id, text, _src in _cdc_corpus():
        want = [h for _, h in sorted(tab.get(doc_id, []))]
        assert arr[doc_id] == want
        if not text:
            assert arr[doc_id] == []


# ---------------------------------------------------------------------------
# Star-contraction connected components (dedup.cluster)
# ---------------------------------------------------------------------------


def test_star_cc_matches_min_label_on_random_graph(spark):
    """Both CC implementations must produce the identical (id, label)
    fixpoint on a random multigraph (cliques, chains, isolated-by-
    omission nodes alike)."""
    import random

    from chronobase_spark.dedup import cluster

    rng = random.Random(1)
    es = [
        (a, b)
        for a, b in ((rng.randrange(50), rng.randrange(50)) for _ in range(80))
        if a != b
    ]
    e = spark.createDataFrame(es, "doc_a long, doc_b long")
    got_min = {r["id"]: r["label"] for r in cluster.connected_components(e).collect()}
    got_star = {
        r["id"]: r["label"] for r in cluster.connected_components_star(e).collect()
    }
    assert got_min == got_star and len(got_min) >= 40


def test_star_cc_is_logarithmic_on_long_path(spark):
    """The reason star contraction exists: a 400-hop path collapses in
    O(log) rounds (≤ 14 pinned) where min-label propagation needs
    ~diameter rounds and would abort at its 25-round budget. Also pins
    the labels: every node reaches the global min 0."""
    from chronobase_spark.dedup import cluster

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    rounds = [0]
    orig = cluster._large_star

    def counting(e):
        rounds[0] += 1
        return orig(e)

    cluster._large_star = counting
    try:
        labels = cluster.connected_components_star(edges).collect()
    finally:
        cluster._large_star = orig
    assert len(labels) == 401
    assert all(r["label"] == 0 for r in labels)
    assert rounds[0] <= 14, f"star contraction took {rounds[0]} rounds"


def test_lpa_separates_bridged_cliques_cc_fuses(spark):
    """The reason LPA exists next to CC: two 4-cliques joined by ONE
    bridge edge are a single connected component (CC fuses them), but
    dense-majority label propagation keeps them as two communities —
    the bridge's lone vote cannot outnumber a clique's."""
    from chronobase_spark.dedup import cluster

    a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    b = [(i, j) for i in range(10, 14) for j in range(i + 1, 14)]
    edges = spark.createDataFrame(
        a + b + [(3, 10)], "doc_a long, doc_b long"
    )
    cc = {r["label"] for r in cluster.connected_components(edges).collect()}
    assert cc == {0}, "one bridge edge fuses the CC"
    comm = {
        r["id"]: r["community"]
        for r in cluster.label_propagation(edges, rounds=2).collect()
    }
    groups = {}
    for node, c in comm.items():
        groups.setdefault(c, set()).add(node)
    assert len(groups) == 2, f"expected 2 communities, got {groups}"
    sides = sorted(groups.values(), key=min)
    assert sides[0] == {0, 1, 2, 3} and sides[1] == {10, 11, 12, 13}


def test_label_propagation_leaves_nothing_cached(spark):
    """LPA materializes its symmetrized edge list with a local
    checkpoint, not persist(): the CacheManager is as empty after the
    call as before it."""
    from chronobase_spark.dedup import cluster

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long")
    assert len(cluster.label_propagation(edges).collect()) == 5
    assert cache.isEmpty()


def test_phash_banded_pairs_equal_brute_force(spark, docs):
    """Every chunk-LSH Hamming finder must EQUAL brute-force all-pairs
    Hamming ≤ 3 over its own signatures (pigeonhole: 4 bands, distance
    ≤ 3 ⇒ one band identical — completeness is exact, not
    probabilistic). For the dHash the reference signature is computed
    by an independent pure-Python dHash from the raw text bytes (same
    raster the PPM payload carries); the SimHash finder is checked
    against its own signature table (simhash_md5_chunks)."""
    import itertools
    import math

    from chronobase_spark.dedup import phash

    gated = docs.filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )

    def py_dhash(text: str) -> list[int]:
        data = text.encode("utf-8")
        h = max(math.ceil(len(data) / 48.0), 1)
        raster = data + b"\x00" * (h * 16 * 3 - len(data))
        grid = [[0] * 8 for _ in range(8)]
        for i, byte in enumerate(raster):
            q = i // 3
            grid[(q // 16) * 8 // h][((q % 16) * 8) // 16] += byte
        chunks = [0, 0, 0, 0]
        for gr in range(8):
            for gc in range(8):
                if grid[gr][gc] > grid[gr][(gc + 1) % 8]:
                    chunks[gr // 2] |= 1 << ((gr % 2) * 8 + gc)
        return chunks

    cases = {
        "phash": (
            {r["doc_id"]: py_dhash(r["text"]) for r in gated.collect()},
            phash.phash_near_pairs(gated),
        ),
        "simhash_md5": (
            {
                r["doc"]: [r[f"c{j}"] for j in range(simhash.CHUNKS)]
                for r in simhash.simhash_md5_chunks(docs).collect()
            },
            simhash.simhash_md5_near_pairs(docs),
        ),
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    for name, (sigs, pairs) in cases.items():
        truth = {
            (a, b, ham(sigs[a], sigs[b]))
            for a, b in itertools.combinations(sorted(sigs), 2)
            if ham(sigs[a], sigs[b]) <= 3
        }
        assert truth, f"{name}: smoke corpus should contain near signatures"
        found = {
            (r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()
        }
        assert found == truth, (
            f"{name}: missed={truth - found} spurious={found - truth}"
        )


def test_semantic_cell_model_scaled_k_rule_and_masking(spark):
    """The scaled admission model must pick the SAME k the batch
    scaled quantizer derives (smallest k with 2^k·target ≥ n, clamped)
    and its cells must equal the full-width signature masked to the
    low k bits — plane i is bit i, so 'first k planes' ≡ masking, the
    equivalence semantic_admit_stage relies on to fold the same cell
    per arriving row."""
    from chronobase_spark.dedup import embedding as emb

    base = catalog.table(spark, SF_SMOKE, "embeddings")
    n = base.filter(F.col("embedding").isNotNull()).count()
    for target, max_planes in ((32, 16), (4, 16), (100000, 16), (1, 3)):
        cells, k = emb.semantic_cell_model_scaled(
            base, target_cell_size=target, max_planes=max_planes
        )
        want_k = next(
            (kk for kk in range(1, max_planes + 1)
             if (1 << kk) * target >= n),
            max_planes,
        )
        assert k == want_k, (target, max_planes, k, want_k)
        full = emb.semantic_cell_model(base, num_planes=max_planes)
        got = {r["vid"]: r["cell"] for r in cells.collect()}
        masked = {
            r["vid"]: r["cell"] & ((1 << k) - 1) for r in full.collect()
        }
        assert got == masked
        cells.unpersist()
        full.unpersist()


def _source_scans_per_cached_plan(spark, frames):
    """For each cached relation reachable from the persisted ``frames``:
    how many file scans its own cached plan runs (a cached relation
    read inside it is followed on its own, not counted)."""

    def scans(plan, nested):
        name = plan.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return scans(plan.inputPlan(), nested)
        if name == "InMemoryTableScanExec":
            nested.append(plan.relation())
            return 0
        if name == "FileSourceScanExec":
            return 1
        kids = plan.children()
        return sum(scans(kids.apply(i), nested) for i in range(kids.size()))

    todo = [f._jdf.queryExecution().withCachedData() for f in frames]
    seen, out = set(), []
    while todo:
        cached = todo.pop().cacheBuilder()
        key = spark._jvm.System.identityHashCode(cached)
        if key not in seen:
            seen.add(key)
            out.append(scans(cached.cachedPlan(), todo))
    return sorted(out)


def test_band_model_reads_the_corpus_once(spark):
    """minhash_band_model builds its band table from its persisted
    shingle table and caches nothing else, so the CacheManager holds
    exactly the model's two plans (shingles, bands) and exactly one of
    them scans the documents."""
    spark.catalog.clearCache()
    bands, sh = minhash.minhash_band_model(catalog.table(spark, SF_SMOKE, "documents"))
    try:
        assert _source_scans_per_cached_plan(spark, [bands, sh]) == [0, 1]
    finally:
        spark.catalog.clearCache()


def test_bucketed_band_model_leaves_nothing_cached(spark):
    """minhash_band_model_bucketed returns tables, not cached frames:
    the CacheManager is as empty after the call as before it."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    docs = catalog.table(spark, SF_SMOKE, "documents").limit(60)
    try:
        minhash.minhash_band_model_bucketed(docs, table_prefix="t_bkt_cache", buckets=2)
        assert cache.isEmpty()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_cache_bands")
        spark.sql("DROP TABLE IF EXISTS t_bkt_cache_shingles")


def test_bucketed_band_model_matches_persisted(spark, docs):
    """The bucketed on-disk admission model (lever 3) must carry
    EXACTLY the persisted model's rows — same band keys, same shingle
    arrays — and the admission-shaped batch join against it must
    produce identical verdicts. A layout change is only a layout
    change if the content and the join output are bit-identical."""
    frozen = docs.filter(F.col("text").isNotNull()).limit(120)
    bands_m, sh_m = minhash.minhash_band_model(frozen)
    try:
        bands_b, sh_b = minhash.minhash_band_model_bucketed(
            frozen, table_prefix="t_bkt_model", buckets=4
        )
        assert {tuple(r) for r in bands_b.collect()} == {
            tuple(r) for r in bands_m.collect()
        }
        assert {
            (r["doc"], tuple(sorted(r["sh"]))) for r in sh_b.collect()
        } == {(r["doc"], tuple(sorted(r["sh"]))) for r in sh_m.collect()}

        # admission-shaped batch verdict join under both layouts
        arr = minhash.md5_band_table(frozen.limit(30)).select(
            "doc", "band_id", "band_val"
        )

        def verdicts(bands_t):
            j = arr.join(
                bands_t.select(
                    F.col("doc").alias("cand"), "band_id", "band_val"
                ),
                ["band_id", "band_val"],
                "left",
            )
            return {
                (r["doc"], r["cand"])
                for r in j.select("doc", "cand").distinct().collect()
            }

        assert verdicts(bands_b) == verdicts(bands_m)
    finally:
        bands_m.unpersist()
        sh_m.unpersist()
        spark.sql("DROP TABLE IF EXISTS t_bkt_model_bands")
        spark.sql("DROP TABLE IF EXISTS t_bkt_model_shingles")


def test_containment_catches_embedded_fragment_jaccard_misses(spark):
    """The asymmetric measure's reason to exist: a short document fully
    QUOTED inside a much larger one has containment 1.0 but Jaccard far
    below any sane resemblance threshold — the Jaccard finder must miss
    the pair, the containment finder must report it with
    cont_fragment_in_host = 1.0. Also pins direction: the fragment is
    the a-side (smaller id), so cont_a_in_b carries the 1.0."""
    fragment = "alpha beta gamma delta epsilon zeta eta theta"
    host_extra = " ".join(f"w{i} x{i} y{i}" for i in range(120))
    rows = [
        (1, fragment),
        (2, fragment + " " + host_extra),
        (3, "totally unrelated content " + " ".join(f"q{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in ngram.containment_pairs(df, threshold=0.8, max_df=50).collect()
    }
    assert (1, 2) in cont
    c_ab, c_ba = cont[(1, 2)]
    assert c_ab == 1.0  # the fragment is fully contained in the host
    assert c_ba < 0.8  # the host is NOT contained in the fragment
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram.jaccard_pairs(df, threshold=0.5, max_df=50).collect()
    }
    assert (1, 2) not in jac  # resemblance dedup admits the partial copy


def test_doc_novelty_ratio_ground_truth(spark, tmp_path):
    """Hand-built corpus pin for the novelty curve (r17): the first doc
    introduces everything (novelty 1.0), a verbatim re-crawl of it
    introduces nothing (0.0), a half-quote doc introduces exactly its
    own half, and an unrelated doc is fully novel again. Written as a
    tiny parquet dir so the REGISTERED query (not a lookalike) runs."""
    from chronobase_spark import queries as q

    a = " ".join(f"alpha{i}" for i in range(12))  # 10 shingles
    b = " ".join(f"beta{i}" for i in range(12))
    rows = [
        (1, a, "en", "w", len(a)),
        (2, a, "en", "w", len(a)),  # re-crawl: 0 novel
        # 12 fresh tokens + the 12 of doc 1 = 24 tokens -> 22 shingles:
        # fresh block 10 novel, seam 2 novel, copied block 0
        (3, b + " " + a, "en", "w", 1),
        (4, "gamma0 gamma1 gamma2 gamma3", "en", "w", 1),  # fully novel
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src + "/documents.parquet")
    got = {
        r["doc_id"]: (r["n_sh"], r["novel_sh"], r["novelty"])
        for r in q.queries()["doc_novelty_ratio"](spark, src).collect()
    }
    assert got[1] == (10, 10, 1.0)
    assert got[2] == (10, 0, 0.0)
    assert got[3][0] == 22 and got[3][1] == 12  # 10 fresh-block + 2 seam
    assert got[3][2] == 12 / 22
    assert got[4] == (2, 2, 1.0)


def test_r18_tokenize_and_gram_rewrites_match_two_pass_forms(spark, docs):
    """r18 K/L equivalence pin: the single-regex tokenizer and the
    concat_ws gram assembly must be bit-identical to the r17 two-pass
    regexp_replace+split / array_join(slice(...)) forms — over the real
    corpus AND an adversarial literal frame (NULL, empty,
    punctuation-only, unicode whitespace, control chars, multi-space).
    Guards the expression the entire dedup/text family compiles."""
    from chronobase_spark.functions.text import tokens

    def tokens_old(text):
        cleaned = F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", " ")
        return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != F.lit(""))

    def shingles_old(text, n=3):
        def grams_of(tk):
            count = F.greatest(F.size(tk) - (n - 1), F.lit(0))
            grams = F.transform(
                F.sequence(F.lit(0), count - 1),
                lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
            )
            return F.array_distinct(
                F.when(count > 0, grams).otherwise(F.array())
            )

        return F.get(F.transform(F.array(tokens_old(text)), grams_of), 0)

    adversarial = spark.createDataFrame(
        [
            (None,),
            ("",),
            ("   ",),
            ("...!!!###",),
            ("a",),
            ("a b c",),
            ("Hello, World! 123",),
            ("tab\tsep\nnewline\rcr",),
            ("UPPER lower MiXeD 42x7",),
            ("trailing space ",),
            (" leading",),
            ("a  b   c",),
            ("héllo wörld çafé",),
            ("a-b c_d e.f",),
            ("0 00 000 0a a0",),
            ("nbsp\u00a0sep emsp\u2003sep",),
            ("vtab\x0bsep\x0b",),
            ("\u00a0\u2003\x0b",),
        ],
        "text string",
    )
    for frame in (docs.select("text"), adversarial):
        mism = frame.select(
            tokens_old(F.col("text")).alias("ot"),
            tokens(F.col("text")).alias("nt"),
            shingles_old(F.col("text"), 3).alias("os"),
            ngram.shingles(F.col("text"), 3).alias("ns"),
        ).filter(
            ~F.col("ot").eqNullSafe(F.col("nt"))
            | ~F.col("os").eqNullSafe(F.col("ns"))
        )
        assert mism.count() == 0, mism.limit(5).collect()
