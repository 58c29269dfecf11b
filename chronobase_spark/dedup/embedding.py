"""Embedding-space near-duplicate detection and ANN search.

Random-hyperplane LSH (Charikar SimHash for real vectors): signature
bit i = sign(<v, p_i>) for fixed pseudo-random hyperplanes p_i. Vectors
agreeing on a whole signature land in one bucket; exact cosine re-ranks
within buckets. P(bit agrees) = 1 − θ/π, so an 8-bit signature keeps
~36% of pairs at cosine 0.9 per table, and multiple tables (signature
seeds) push recall up exponentially.

The hyperplanes are generated from a fixed numpy seed and injected as
LITERAL arrays — engine-portable arithmetic (dot products + sign), so
unlike hash-based LSH this variant DOES admit an exact cross-engine SQL
oracle. ``sql_hyperplane_literal`` renders the same planes for DuckDB.

Scale: bucketing is a map + one shuffle on (table, signature); exact
re-rank cost is Σ bucket², controlled by signature width; the brute
force fallback in functions.similarity covers broadcast-sized probes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronobase_spark.dedup._bands import band_join
from chronobase_spark.functions.similarity import cosine_pre
from chronobase_spark.functions.similarity import norm as _sim_norm

DIM = 64
SEED = 42


def hyperplanes(num_planes: int = 8, seed: int = SEED) -> np.ndarray:
    """Deterministic Gaussian hyperplanes, rounded to 6 decimals so the
    literals embedded in Spark and SQL are the exact same doubles."""
    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((num_planes, DIM)), 6)


def _plane_dot(vec: Column, plane: np.ndarray) -> Column:
    """<vec, plane> as a sequential fold: Σ vec[i] * plane[i]."""
    arr = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec, arr, lambda v, p: v.cast("double") * p),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def lsh_signature(vec: Column, planes: np.ndarray) -> Column:
    """Integer bucket id: bit i set iff <vec, p_i> >= 0."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        sig = sig + F.when(_plane_dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(0)
    return sig


def sql_signature_expr(vec_expr: str, planes: np.ndarray) -> str:
    """The identical signature as an ANSI/DuckDB SQL expression (for the
    correctness oracle)."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        dot = (
            f"list_sum(list_transform(generate_series(1, {len(plane)}), "
            f"i -> {vec_expr}[i] * ([{lits}])[i]))"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def bucketed_near_pairs(df: DataFrame, min_cosine: float = 0.9) -> DataFrame:
    """Near-duplicate vector pairs (a < b) that share an LSH bucket AND
    have exact cosine ≥ min_cosine. Shuffle on bucket id; exact math only
    within buckets."""
    planes = hyperplanes()
    # persist: the signature (num_planes × dim fold per row) feeds both
    # sides of the self-join — compute once. The norm rides along (r17):
    # cached per ROW, where cosine() in the join would re-fold it per
    # PAIR — bit-identical sim (same fold, same multiply).
    sig = df.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        lsh_signature(F.col("embedding"), planes).alias("bucket"),
        _sim_norm(F.col("embedding")).alias("nrm"),
    ).persist()
    sim = F.round(
        cosine_pre(
            F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")
        ),
        6,
    )
    return (
        band_join(sig, keys=("bucket",), id_col="vid")
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def ivf_topk(df: DataFrame, probe_ids: list[int]) -> DataFrame:
    """IVF/LSH-style approximate top-k: each probe searches only its own
    LSH cell instead of the full corpus. Returns (q_id, n_id, sim) ranked
    within cell. The approximation is the cell restriction; ranking
    inside is exact cosine."""
    from pyspark.sql import Window

    planes = hyperplanes(6)
    # nrm projected once per row below the join (r17; see cosine()'s
    # join-path note) — bit-identical sim, |pairs| fewer norm folds.
    sig = df.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        lsh_signature(F.col("embedding"), planes).alias("bucket"),
        _sim_norm(F.col("embedding")).alias("nrm"),
    )
    probes = sig.filter(F.col("vid").isin(probe_ids)).select(
        F.col("vid").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    cands = sig.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vid") != F.col("q_id")),
    )
    sim = F.round(
        cosine_pre(F.col("q_vec"), F.col("vec"), F.col("q_nrm"), F.col("nrm")),
        6,
    )
    scored = cands.select("q_id", F.col("vid").alias("n_id"), sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 10
    ).drop("rnk")


def ivf_pq_topk(
    df: DataFrame,
    probe_id: int,
    num_planes: int = 6,
    m: int = 8,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ search — the full FAISS-style ANN composition: the probe
    ROUTES to its LSH cell (coarse quantizer, same hyperplane signature
    as ivf_topk) and RANKS the cell's candidates by PQ asymmetric
    distance (similarity.pq_adc_topk's LUT math) — so query cost is
    one cell's worth of 8-byte code rows, never a corpus scan and
    never a full-precision vector read.

    Scale posture: the cell candidate set is corpus/2^num_planes — it
    GROWS with the corpus, so it is semi-joined on the id key with a
    shuffle_hash hint (never broadcast; the band-join rule of
    dedup/_bands.py). The only broadcasts are the 1-row probe bucket
    and the m·|codes| LUT.
    Codebooks are trained on the FULL corpus (assignment quality must
    not depend on which cell a vector routed to). Integer-exact ADC
    sums + deterministic signature literals ⇒ fully oracle-checkable.
    """
    from chronobase_spark.functions import similarity as _sim

    planes = hyperplanes(num_planes)
    sig = df.select(
        F.col("vec_id").alias("vid"),
        lsh_signature(F.col("embedding"), planes).alias("bucket"),
    )
    probe_bucket = sig.filter(F.col("vid") == probe_id).select(
        F.col("bucket").alias("q_bucket")
    )
    cand = (
        sig.join(F.broadcast(probe_bucket), F.col("bucket") == F.col("q_bucket"))
        .filter(F.col("vid") != probe_id)
        .select(F.col("vid").alias("vec_id"))
    )

    # One subvector/codebook build feeds assignment AND the probe LUT
    # (similarity's shared _pq_codes/_pq_lut/_adc_topk — the single ADC
    # definition both search paths rank with).
    subs = _sim._pq_subvectors(df, m, "vec_id", "label", "embedding")
    book = _sim._pq_codebook(subs)
    codes = _sim._pq_codes(subs, book).select(
        "vec_id", "subspace", "code"
    )
    lut = _sim._pq_lut(subs, book, probe_id)
    return _sim._adc_topk(
        codes.join(cand.hint("shuffle_hash"), "vec_id", "left_semi"),
        lut,
        k,
    )


def semantic_cell_model(df: DataFrame, num_planes: int = 8) -> DataFrame:
    """Freeze the corpus-side model for streaming semantic admission
    (streaming/docs.semantic_admit_stage): the persisted (vid, vec,
    cell) table under the SAME literal hyperplanes the batch pair
    finder buckets on (bucketed_near_pairs / semantic_dedup — one
    quantizer definition, so admission joins hit exactly the batch
    cells). NULL embeddings are excluded (they cannot be near
    anything); callers own the cache's lifetime (unpersist on retrain
    — the minhash_band_model convention)."""
    planes = hyperplanes(num_planes)
    return (
        df.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").alias("vec"),
            lsh_signature(F.col("embedding"), planes).alias("cell"),
        )
        .persist()
    )


def semantic_cell_model_bucketed(
    df: DataFrame,
    table_prefix: str = "chrono_semantic_model",
    buckets: int = 32,
) -> tuple[DataFrame, int]:
    """``semantic_cell_model_scaled`` persisted as a BUCKETED TABLE on
    the admission join's exact key (``cell``) — the embedding member
    of the pre-bucketed frozen-model lever (see dedup.minhash.
    minhash_band_model_bucketed for the measurement: identical
    verdicts, no per-trigger store exchange, the only form that works
    when the store outgrows executor memory). Returns ``(cells, k)``
    like the scaled builder; pass ``num_planes=k`` to
    semantic_admit_stage. The scaled quantizer stays the default here
    for the same reason it is in memory: a growing store must keep
    per-arrival verify fan-out constant."""
    from chronobase_spark.sources.writers import write_bucketed

    spark = df.sparkSession
    cells, k = semantic_cell_model_scaled(df)
    name = f"{table_prefix}_cells"
    write_bucketed(cells, name, "cell", buckets, sort_col="cell")
    cells.unpersist()
    return spark.table(name), k


def semantic_cell_model_scaled(
    df: DataFrame,
    target_cell_size: int = 32,
    max_planes: int = 16,
) -> tuple[DataFrame, int]:
    """``semantic_cell_model`` with the CORPUS-SCALED quantizer — the
    admission model a growing store needs: a fixed plane count makes
    cells ≈ 2^planes constant, so expected cell size (and therefore
    per-ARRIVAL candidate fan-out in semantic_admit_stage) grows
    linearly with the frozen corpus — the same quadratic time bomb
    semantic_dedup_scaled defuses in batch, surfacing at intake as
    per-arrival latency instead. k = smallest plane count with
    2^k · target_cell_size ≥ n (clamped to max_planes), resolved to a
    Python int at train time (one count — a frozen-model constant, the
    dsir_model pattern), and the signature over the FIRST k planes is
    identical to semantic_dedup_scaled's low-k-bit masking by
    construction (plane i is bit i). Returns ``(cells, k)``; pass
    ``num_planes=k`` to semantic_admit_stage so arriving rows fold the
    SAME masked cell."""
    n = df.filter(F.col("embedding").isNotNull()).count()
    k = next(
        (k for k in range(1, max_planes + 1)
         if (1 << k) * target_cell_size >= n),
        max_planes,
    )
    return semantic_cell_model(df, num_planes=k), k


def semantic_dedup(
    df: DataFrame,
    num_planes: int = 8,
    min_cosine: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus (here: deterministic LSH
    cells, the same coarse quantizer the IVF path uses), then within
    each cell drop every vector that has a near-duplicate
    (cosine ≥ min_cosine) with a smaller id — the smallest id of each
    semantic group survives. Returns (vec_id, cell, kept).

    Scale: identical to bucketed_near_pairs — one shuffle on the cell
    id, pairwise cosine only within cells (Σ cell² work, controlled by
    signature width), then a key-partitioned anti/left join for the
    keep flag. Nothing corpus-sized is ever broadcast or windowed
    globally. NULL embeddings are excluded up front (explicit null
    contract; a vector store may not assume them)."""
    planes = hyperplanes(num_planes)
    sig = df.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        lsh_signature(F.col("embedding"), planes).alias("cell"),
    )
    return _dedup_assign(sig, min_cosine)


def semantic_dedup_scaled(
    df: DataFrame,
    target_cell_size: int = 32,
    max_planes: int = 16,
    min_cosine: float = 0.35,
) -> DataFrame:
    """``semantic_dedup`` with a quantizer that SCALES WITH THE CORPUS —
    the SemDeDup paper's posture (cluster count grows with n so cluster
    size stays constant). A fixed plane count is a quadratic time bomb:
    cells ≈ 2^planes is constant, so expected cell size grows with n
    and the within-cell pairwise pass is Σ cell² ≈ n²/2^planes. Here
    the number of ACTIVE planes k is derived from the corpus count —
    the smallest k with 2^k · target_cell_size ≥ n (clamped to
    max_planes) — so expected cell size stays ≈ target_cell_size and
    pair work stays ≈ n · target/2: LINEAR in the corpus.

    Fully distributed: every row computes the full max_planes-bit
    signature once (plane i is bit i, so "first k planes" ≡ masking to
    the low k bits); n is ONE partial-agged count whose 1-row result
    broadcasts back to mask the signature — the corpus itself is never
    collected, windowed, or broadcast. k is picked by an integer
    threshold test over sequence(1..max_planes) — no float log2, so an
    ANSI SQL oracle computes the identical k (cross-engine exact).
    Returns (vec_id, cell, kept) like semantic_dedup."""
    planes = hyperplanes(max_planes)
    base = df.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        lsh_signature(F.col("embedding"), planes).alias("sig"),
    )
    k = base.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(
            f"coalesce(array_min(filter(sequence(1, {max_planes}),"
            f" k -> shiftleft(cast(1 as bigint), k) * {target_cell_size}"
            f" >= n)), {max_planes})"
        ).alias("k")
    )
    sig = base.crossJoin(F.broadcast(k)).select(
        "vid",
        "vec",
        F.expr("sig & (shiftleft(cast(1 as bigint), k) - 1)").alias("cell"),
    )
    return _dedup_assign(sig, min_cosine)


def _dedup_assign(
    sig: DataFrame, min_cosine: float
) -> DataFrame:
    """Shared SemDeDup keep/drop pass over (vid, vec, cell): pairwise
    cosine within cells, smallest id per semantic group survives."""
    # persist: the (num_planes × dim fold per row) signature feeds both
    # sides of the self-join — compute once. The norm is computed and
    # cached per ROW here (r17): cosine() inside the join re-folded
    # each side's norm per within-cell PAIR (~cell_size× the folds for
    # the same bit-identical doubles; measured −20% on
    # semantic_dedup_scaled at sf0.1, 0 result changes).
    sig = sig.withColumn("_nrm", _sim_norm(F.col("vec"))).persist()
    sim = F.round(
        cosine_pre(
            F.col("a.vec"), F.col("b.vec"), F.col("a._nrm"), F.col("b._nrm")
        ),
        6,
    )
    drops = (
        band_join(sig, keys=("cell",), id_col="vid")
        .filter(sim >= min_cosine)
        .select(F.col("b.vid").alias("vid"))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    # kept == "no drop-join match", mirroring the oracle's
    # d.vec_id IS NULL
    return sig.join(drops.hint("shuffle_hash"), "vid", "left").select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.col("dropped").isNull().alias("kept"),
    )
