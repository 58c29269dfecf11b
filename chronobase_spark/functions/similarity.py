"""Vector similarity over ``array<float>`` embedding columns.

Everything here is native higher-order-function column math
(``zip_with`` / ``aggregate``) — JVM-side, codegen-friendly, no UDF.
Accumulation is float64 over float32 inputs, strictly sequential, so
results are bit-reproducible and match an ANSI-SQL oracle computing the
same fold.

Scale posture: brute-force top-k is O(n·q) dot products — fine when the
query side is small/broadcast; beyond that use the LSH-bucketed path in
``chronobase_spark.dedup.embedding`` (candidate generation via
random-hyperplane signatures, exact re-rank inside buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in float64 (exact same fold as the
    DuckDB oracle's list_sum(list_transform(...)))."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    """L2 norm, float64 fold."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_pre(a: Column, b: Column, a_nrm: Column, b_nrm: Column) -> Column:
    """Cosine similarity with both norms precomputed per row:
    dot(a, b) / (a_nrm * b_nrm); NULL-safe only insofar as inputs are
    non-empty.

    Join-path note (r17, guide §1.2 per-task work): inside a
    pair-producing join, project ``norm(vec)`` once per row BELOW the
    join and pass it here — folding each side's norm per pair instead
    would give bit-identical doubles (same fold, same multiply) at
    2·|pairs| folds instead of |rows|."""
    return dot(a, b) / (a_nrm * b_nrm)


def label_centroids(df: DataFrame, label_col: str = "label") -> DataFrame:
    """Per-label elementwise mean vector — the k-means/IVF "update" step
    (each label's centroid), fully distributed: posexplode is map-side,
    the (label, pos) aggregate partial-aggregates before its one
    shuffle (|labels|·dim groups — tiny), and the array rebuild groups
    ``dim`` rows per label.

    Determinism for cross-engine oracles: each float32 component is
    quantized to a 1e-6 integer by multiply-then-round (never
    round(v, 6) — Spark rounds the shortest decimal STRING, DuckDB the
    scaled binary, and they disagree on float32 "…5" boundaries), the
    integers sum exactly, and the mean is ONE double division of
    identical operands — order-insensitive, unrounded, identical in any
    engine performing the same arithmetic. Returns
    (label, cvec: array<double>).
    """
    scale = 1e6
    ex = df.select(
        F.col(label_col).alias("clabel"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    per_pos = ex.groupBy("clabel", "pos").agg(
        (
            F.sum(
                F.round(F.col("v").cast("double") * F.lit(scale), 0).cast("bigint")
            ).cast("double")
            / (F.count(F.lit(1)) * F.lit(scale))
        ).alias("avg_v")
    )
    return per_pos.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "avg_v"))),
            lambda s: s["avg_v"],
        ).alias("cvec")
    )


def squared_distance(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance in float64 (mirrors the
    oracle's list_sum(list_transform(...)) fold exactly)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_nearest_centroid(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """k-means/IVF "assign" step: each vector's nearest centroid by
    squared L2. Centroids broadcast (|labels| rows); the corpus streams
    through once; the argmin is a single-shuffle min(struct) aggregate
    with map-side partial aggregation — no window, no second pass.
    Distance is rounded before the argmin so the winner is deterministic
    across engines; ties break by centroid label. Returns every input
    column of ``df`` minus the vector, plus (assigned, dist). NULL
    vectors are dropped up front (they cannot be assigned; a NULL
    distance would otherwise win the struct-min as Spark sorts nulls
    first, silently mis-binning every embedding-less row — r7
    nully-differential finding; same policy as pq_assign)."""
    df = df.filter(F.col("embedding").isNotNull())
    dist = F.round(
        squared_distance(F.col("embedding"), F.col("cvec")), 6
    )
    pairs = df.crossJoin(F.broadcast(centroids)).select(
        *[c for c in df.columns if c != "embedding"],
        F.col("clabel"),
        dist.alias("dist"),
    )
    keys = [c for c in df.columns if c != "embedding"]
    return (
        pairs.groupBy(*keys)
        .agg(F.min(F.struct("dist", "clabel")).alias("_m"))
        .select(
            *keys,
            F.col("_m.clabel").alias("assigned"),
            F.col("_m.dist").alias("dist"),
        )
    )


def kmeans_lloyd(df: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Unsupervised Lloyd's k-means over an embedding column — the
    trained coarse quantizer the IVF/SemDeDup family assumes (SemDeDup
    clusters with k-means before the per-cell cosine sweep; the
    label-seeded ``label_centroids``/``assign_nearest_centroid`` pair
    covers only one supervised step of it).

    Deterministic by construction: seeds are the ``k`` vectors with
    ``id < k`` (the synthetic corpus ids are dense from 0; a hash-pick
    would be engine-specific), assignment rounds the distance before
    the argmin with ties broken by centroid label, and the update step
    is the micro-integer exact mean of ``label_centroids`` — so a fixed
    ``iters`` unrolls to identical arithmetic in any engine.

    Scale shape (100 TB): iterate on the AGGREGATE, never the corpus —
    each round is one broadcast-centroid assign pass (corpus streams
    once, min(struct) argmin with map-side partials) plus one
    |k|·dim centroid aggregate; the only corpus-keyed shuffle is the
    id join gluing assignment back to its vector, hinted shuffle_hash.
    ``iters`` is a small constant so the lazy plan stays linear in it
    (beyond ~5 rounds you would collect the k·dim centroid table into
    literals per round — the BPE/CC literal-argmax pattern — instead of
    growing lineage).

    Returns (id, assigned, dist) after the final assignment.
    """
    base = df.filter(F.col("embedding").isNotNull()).select("vec_id", "embedding")
    cents = base.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("clabel"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("cvec"),
    )
    for _ in range(iters - 1):
        assigned = assign_nearest_centroid(base, cents).select("vec_id", "assigned")
        members = assigned.join(base.hint("shuffle_hash"), "vec_id")
        cents = label_centroids(members, label_col="assigned")
    return assign_nearest_centroid(base, cents)


def ivf_kmeans_topk(
    df: DataFrame,
    probe_ids: list,
    k: int = 10,
    kmeans_k: int = 8,
) -> DataFrame:
    """IVF search over the unsupervised ``kmeans_lloyd`` quantizer:
    probes search only their own trained cell, exact cosine re-rank
    inside it — train → assign → search, the full IVF lifecycle (the
    hyperplane variant in dedup.embedding.ivf_topk skips training).

    Scale shape: on top of the quantizer's per-round broadcast-assign
    passes, the search adds ONE corpus-keyed shuffle (the id join
    gluing each vector to its cell, shuffle_hash), a |probes|-row
    broadcast, and a per-probe rank window over one cell's candidates
    (~n/kmeans_k rows per probe — sub-linear in the corpus, never
    all-pairs). Returns (q_id, n_id, sim).
    """
    # _nrm projected once per row below the cell join (r17; see
    # cosine()'s join-path note) — bit-identical sim, |pairs| fewer
    # norm folds.
    base = df.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("_nrm")
    )
    cells = base.join(
        kmeans_lloyd(df, k=kmeans_k)
        .select("vec_id", "assigned")
        .hint("shuffle_hash"),
        "vec_id",
    )
    probes = cells.filter(F.col("vec_id").isin(list(probe_ids))).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("_nrm").alias("q_nrm"),
        F.col("assigned").alias("q_cell"),
    )
    cand = cells.join(
        F.broadcast(probes),
        (F.col("assigned") == F.col("q_cell"))
        & (F.col("vec_id") != F.col("q_id")),
    )
    sim = F.round(
        cosine_pre(
            F.col("embedding"), F.col("q_vec"), F.col("_nrm"), F.col("q_nrm")
        ),
        6,
    )
    scored = cand.select("q_id", F.col("vec_id").alias("n_id"), sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def int8_quant_stats(vec: Column) -> Column:
    """Symmetric int8 quantization of one embedding vector, summarized
    as struct(qscale, q_sum, q_min, q_max, n_sat).

    The 4× compression step every large ANN index applies before
    storage: per-vector scale = max|v| / 127, code = clamp(round(v /
    scale)) ∈ [-127, 127]. The summary exposes the scale plus exact
    integer facts about the code vector (sum, extrema, saturation
    count) — integers compare exactly cross-engine, so the whole
    operator is oracle-checkable without shipping arrays through the
    comparator.

    Expression discipline: ``scale`` and the code array are each bound
    once via single-element ``transform`` lets — referencing the Python
    column object N times would re-evaluate the max-abs fold / the
    quantize transform N times per row (the HOF re-evaluation trap, see
    functions/text.with_tokens). Rounding is floor(x + 0.5) — half
    toward +inf — because engines disagree on round()'s half-away vs
    banker's behavior but agree exactly on floor.
    """
    maxabs = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )

    def with_codes(q: Column) -> Column:
        return F.struct(
            F.aggregate(q, F.lit(0).cast("long"), lambda a, v: a + v).alias(
                "q_sum"
            ),
            F.array_min(q).alias("q_min"),
            F.array_max(q).alias("q_max"),
            F.size(F.filter(q, lambda v: F.abs(v) == 127)).alias("n_sat"),
        )

    def with_scale(s: Column) -> Column:
        codes = F.transform(
            vec,
            lambda v: F.when(s == F.lit(0.0), F.lit(0).cast("long")).otherwise(
                F.least(
                    F.lit(127).cast("long"),
                    F.greatest(
                        F.lit(-127).cast("long"),
                        F.floor(v.cast("double") / s + F.lit(0.5)),
                    ),
                )
            ),
        )
        inner = F.get(F.transform(F.array(codes), with_codes), 0)
        return F.struct(
            F.round(s, 6).alias("qscale"),
            inner["q_sum"].alias("q_sum"),
            inner["q_min"].alias("q_min"),
            inner["q_max"].alias("q_max"),
            inner["n_sat"].alias("n_sat"),
        )

    return F.get(F.transform(F.array(maxabs / F.lit(127.0)), with_scale), 0)


def topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k cosine neighbors for each query vector.

    The query side is broadcast (it is small by construction — a handful
    of probe vectors), so the corpus streams through executors exactly
    once with no shuffle; per-query ranking then shuffles only
    (q, vec_id, sim) triples, and TakeOrdered keeps k per query.

    Similarity is rounded before ranking so rank boundaries are
    deterministic across engines; residual ties break by corpus id.
    Returns (q_id, n_id, sim).
    """
    # norms projected once per row BELOW the join (r17): cosine() here
    # would re-fold each query's norm per corpus row and each corpus
    # row's norm per query — |q|·|corpus| extra 64-dim folds for the
    # same bit-identical doubles.
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_nrm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("n_id"))
    sim = F.round(
        cosine_pre(
            F.col("q_vec"), F.col("n_vec"), F.col("q_nrm"), F.col("n_nrm")
        ),
        6,
    )
    scored = pairs.select("q_id", "n_id", sim.alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("rnk")
    )


def _micro_u(col: Column) -> Column:
    """1e-6 integer quantization, multiply-then-round (FIXTURES.md)."""
    return F.round(col.cast("double") * F.lit(1000000.0), 0).cast("bigint")


def _pq_subvectors(
    df: DataFrame, m: int, id_col: str, label_col: str, vec_col: str
) -> DataFrame:
    """(id, _lbl, subspace, subvec) per vector-subspace: the shared
    explode stage of pq_assign and pq_adc_topk, with the per-row
    divisibility hard-assert (a fractional width would truncate the
    slice, pad zip_with with NULLs, and silently drop argmin rows).

    Input spread (catalog.spread — identity at scale): the subvector
    slice explode + downstream per-(row, subspace, code) integer
    distance folds serialize on an unsplittable scan (interleaved A/B
    at sf0.1, full pq_assign: 1.92 s → 1.27 s, r17,
    OPTIMIZATION_r17.md family E; semantic_dedup_scaled and topk_cosine
    measured spread-neutral-to-negative there and stay unspread)."""
    from chronobase_spark.catalog import spread

    df = spread(df, key=id_col).filter(F.col(vec_col).isNotNull())
    d_sub = F.size(F.col(vec_col)) / m
    dims_ok = F.size(F.col(vec_col)) % m == 0
    dims_err = F.concat(
        F.lit("pq_assign: vector dim "),
        F.size(F.col(vec_col)).cast("string"),
        F.lit(f" is not divisible by m={m} subspaces"),
    )
    return df.select(
        F.col(id_col),
        F.col(label_col).alias("_lbl"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("subspace"),
                    F.when(
                        dims_ok,
                        F.slice(
                            F.col(vec_col),
                            (s * d_sub + 1).cast("int"),
                            d_sub.cast("int"),
                        ),
                    )
                    .otherwise(F.raise_error(dims_err))
                    .alias("subvec"),
                ),
            )
        ).alias("_s"),
    ).select(id_col, "_lbl", "_s.subspace", "_s.subvec")


def _pq_codebook(subs: DataFrame) -> DataFrame:
    """(subspace, code, cvec_u) label-seeded codebooks from the
    subvector table: per-component round-half-up integer means —
    floor((2s+n)/(2n)) so no double quotient exists to round, and both
    engines agree exactly."""
    ex = subs.select(
        "subspace",
        F.col("_lbl").alias("code"),
        F.posexplode("subvec").alias("pos", "v"),
    )
    return (
        ex.groupBy("subspace", "code", "pos")
        .agg(F.sum(_micro_u(F.col("v"))).alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "subspace",
            "code",
            "pos",
            F.floor(
                (2 * F.col("_s") + F.col("_n")) / (2 * F.col("_n"))
            ).cast("bigint").alias("c_u"),
        )
        .groupBy("subspace", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c_u"))),
                lambda s: s["c_u"],
            ).alias("cvec_u")
        )
    )


def pq_assign(df: DataFrame, m: int = 8) -> DataFrame:
    """Product quantization (Jégou et al., PAMI 2011): split each
    vector into ``m`` contiguous subvectors, build one codebook per
    subspace, and assign every subvector its nearest code — the
    compression layer an IVF index pairs with at scale (IVF routes to a
    bucket, PQ stores 8 bytes per vector instead of 256).

    Codebooks are label-seeded (per-subspace per-label decimal-exact
    means — the same deterministic "update" step as label_centroids),
    so the whole operator stays cross-engine oracle-checkable instead
    of depending on k-means iteration order. Components and centroids
    are quantized to 1e-6 integers BEFORE the distance math, so every
    squared distance is an exact BIGINT (micro² units): the argmin and
    any downstream error sum are integer arithmetic with no float
    rounding boundary anywhere (summing 6-dp-rounded DOUBLE distances
    flaked 1-in-80 groups at sf0.1 — half-even vs half-up at the 5e-7
    boundary). Scale shape: subvector explode is map-side (m rows per
    vector, each dim/m wide); the codebook is a |labels|·dim aggregate
    broadcast back; the argmin is one min(struct) shuffle keyed
    (vec, subspace) with map-side partials; ties break by code id.

    Returns (id, subspace, code, dist_u2: bigint) per vector-subspace.
    NULL vectors are dropped up front (they cannot be quantized; with
    size(NULL) = NULL the divisibility guard below would otherwise
    raise a contentless error for them — same policy as
    lsh_candidates' NULL-signature drop).
    """
    subs = _pq_subvectors(df, m, "vec_id", "label", "embedding")
    # Component quantization multiplies FIRST (round(v·1e6, 0), see
    # _micro_u), never round(v, 6): Spark's round works on the value's
    # shortest decimal string while DuckDB rounds the scaled binary,
    # and float32 components often print as exact "…5" 6-dp boundaries
    # where the two disagree (measured: 1 group in 80 flaked at
    # sf0.1). After the one scaled round, everything is BIGINT.
    book = _pq_codebook(subs)
    return _pq_codes(subs, book)


def _sub_sq_dist_u2(sub_u: Column) -> Column:
    """Exact BIGINT squared distance between a micro-quantized
    subvector and the codeword column ``cvec_u`` it is joined with."""
    return F.aggregate(
        F.zip_with(sub_u, F.col("cvec_u"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _pq_codes(subs: DataFrame, book: DataFrame) -> DataFrame:
    """Nearest-code assignment from prebuilt subvectors + codebook:
    (id, subspace, code, dist_u2). Split out of pq_assign so callers
    that already hold subs/book (pq_adc_topk, ivf_pq_topk) don't
    re-aggregate the codebook a second time."""
    dist = _sub_sq_dist_u2(F.transform(F.col("subvec"), _micro_u))
    pairs = subs.join(F.broadcast(book), "subspace").select(
        "vec_id", "subspace", "code", dist.alias("dist_u2")
    )
    return (
        pairs.groupBy("vec_id", "subspace")
        .agg(F.min(F.struct("dist_u2", "code")).alias("_m"))
        .select(
            "vec_id",
            "subspace",
            F.col("_m.code").alias("code"),
            F.col("_m.dist_u2").alias("dist_u2"),
        )
    )


def _pq_lut(
    subs: DataFrame, book: DataFrame, probe_id
) -> DataFrame:
    """ADC lookup table for one probe: (subspace, code, pdist_u2) —
    m·|codes| rows of exact BIGINT probe-subvector-to-codeword
    distances, built from the SAME subs/book the codes came from (one
    definition; the two ADC users can't drift — r6 advisor note)."""
    probe_subs = subs.filter(F.col("vec_id") == probe_id).select(
        "subspace", F.transform(F.col("subvec"), _micro_u).alias("psub_u")
    )
    pdist = _sub_sq_dist_u2(F.col("psub_u"))
    return probe_subs.join(F.broadcast(book), "subspace").select(
        "subspace", "code", pdist.alias("pdist_u2")
    )


def _adc_topk(
    codes: DataFrame, lut: DataFrame, k: int
) -> DataFrame:
    """Rank candidate code rows by ADC sum against a broadcast LUT and
    return the ascending top-``k`` (id, adc_u2), ties broken by id."""
    return (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.sum("pdist_u2").cast("bigint").alias("adc_u2"))
        .orderBy(F.col("adc_u2").asc(), F.col("vec_id"))
        .limit(k)
    )


def pq_adc_topk(df: DataFrame, probe_id: int, m: int = 8, k: int = 10) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search (Jégou et al. 2011;
    the FAISS IVF-PQ query path): the probe vector stays EXACT while
    corpus vectors are represented by their 1-byte-per-subspace PQ
    codes, so distance(probe, vec) ≈ Σ_s lut[s, code_s(vec)] where the
    lookup table holds the probe-subvector-to-codeword distances —
    m·|codes| integers computed once per query.

    This is the search-side complement of pq_assign: at 100 TB the
    codes table is ~8 bytes/vector (vs 256 float bytes), the LUT is a
    broadcast of m·|codes| rows, and the scan is one map-side join +
    one partial-agged sum per vector — no full-precision vector is
    read at query time. Exactness: probe subvectors and codewords are
    both 1e-6-quantized integers (pq_assign's rule), so every LUT
    entry and every ADC sum is exact BIGINT arithmetic — fully
    oracle-checkable, ties broken by id.

    Returns the top-``k`` (vec_id, adc_u2) by ascending approximate
    squared distance, excluding the probe itself.
    """
    # One subvector/codebook build feeds assignment AND the probe LUT
    # (shared helpers — one definition, the bucketing can never drift,
    # and the codebook aggregates once per query instead of twice).
    subs = _pq_subvectors(df, m, "vec_id", "label", "embedding")
    book = _pq_codebook(subs)
    codes = _pq_codes(subs, book).select("vec_id", "subspace", "code")
    lut = _pq_lut(subs, book, probe_id)
    return _adc_topk(
        codes.filter(F.col("vec_id") != probe_id), lut, k
    )
