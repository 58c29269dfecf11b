"""n-gram (shingle) Jaccard near-duplicate pairs — the exact,
SQL-oracle-checkable member of the near-dup family.

Shape: tokenize → n-gram shingles → explode distinct shingles →
self-join on shingle (candidate pairs share ≥1 shingle) → count common
shingles per pair → Jaccard = common / (|A| + |B| − common).

Scale control: candidate generation is bounded by dropping shingles with
document frequency above ``max_df`` (a hot shingle appearing in f docs
creates f² pair candidates — the classic quadratic blowup). This is the
same posting-list pruning trick used in every inverted-index join; it is
deterministic, so the SQL oracle applies the identical rule. True
near-duplicate pairs share many shingles, so losing their most common
ones barely affects recall at sane thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chronobase_spark.catalog import spread
from chronobase_spark.functions.text import tokens


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized token stream.

    The tokenize expression is bound to a lambda variable via a
    single-element ``transform`` (the expression-level "let"): naming
    ``toks`` in Python and referencing it inside the per-gram lambda
    would re-evaluate the whole tokenize pipeline once per gram after
    inlining (measured 30x slowdown — higher-order-function lambdas are
    interpreted and Catalyst does not CSE across them).
    """

    def grams_of(tk: Column) -> Column:
        count = F.greatest(F.size(tk) - (n - 1), F.lit(0))
        # Per-gram assembly via n direct element reads + concat_ws
        # instead of array_join(slice(...)): slice allocates an n-element
        # array per gram before joining it; 0-based F.get reads in place
        # (every i+j is in range by construction of count, and tokens are
        # never NULL/empty, so concat_ws's NULL-skip can't fire — the
        # joined string is bit-identical; proven over every sf table +
        # the adversarial frame in tests/test_dedup.py; r18 family L).
        grams = F.transform(
            F.sequence(F.lit(0), count - 1),
            lambda i: F.concat_ws(" ", *[F.get(tk, i + j) for j in range(n)]),
        )
        return F.array_distinct(F.when(count > 0, grams).otherwise(F.array()))

    return F.get(F.transform(F.array(tokens(text)), grams_of), 0)


def decontam_model(benchmark: DataFrame, text_col: str = "text") -> DataFrame:
    """Freeze the BENCHMARK shingle set for streaming decontamination
    admission (streaming/docs.decontam_admit_stage): the distinct
    n-gram shingles of the eval suite, persisted — re-read every
    micro-batch as the static side of a stream-static join, and small
    by nature (eval suites, not corpora), so Catalyst broadcasts it.
    The shingle expression is contamination_overlap's LITERAL one
    (one definition, so intake collides on exactly the grams the
    batch sweep counts). Callers own the cache's lifetime (unpersist
    on benchmark refresh — the minhash_band_model convention)."""
    return (
        benchmark.select(F.explode(shingles(F.col(text_col))).alias("sh"))
        .distinct()
        .persist()
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    min_overlap: int = 3,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥ ``min_overlap``
    distinct n-gram shingles with ANY benchmark document (the standard
    test-set-overlap removal step before LLM training; the public
    GPT-3/PaLM reports describe exactly this n-gram collision rule).

    Returns (doc_id, n_overlap) for contaminated docs — join-back and
    anti-filter to drop them.

    Scale shape: UNLIKE the near-dup self-joins (which must never
    broadcast — both sides corpus-sized), the benchmark side here is an
    eval suite: small by nature and *deliberately broadcast*, so the
    corpus streams through map-side once with no shuffle until the tiny
    per-doc count aggregate. ``shingles`` returns distinct grams per
    doc, so a plain count is the distinct-overlap count.
    """
    bench_sh = benchmark.select(
        F.explode(shingles(F.col(text_col))).alias("sh")
    ).distinct()
    corpus_sh = corpus.select(
        F.col("doc_id"),
        F.explode(shingles(F.col(text_col))).alias("sh"),
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def _pair_candidates(
    df: DataFrame, max_df: int
) -> DataFrame:
    """ONE-definition candidate pipeline shared by BOTH batch pair
    finders (:func:`jaccard_pairs` / :func:`containment_pairs`) — the
    r16 verdict's missing-#4: the two finders used to compile ~45
    near-verbatim lines each, and one drifting constant would have
    silently desynchronized what "candidate pair" means between the
    resemblance and containment sweeps. Returns one row per candidate
    pair (doc_a < doc_b) with the shared-shingle count and both
    shingle-set sizes: (doc_a, doc_b, common, n_a, n_b) — each finder
    applies only its own measure projection on top.

    Scale shape (unchanged from the pre-fold finders): hot shingles
    pruned at ``max_df`` before the self-join (a shingle in f docs
    creates f² candidates — the pruning is the sub-quadratic bound);
    every corpus-derived join side shuffle_hash-hinted so a stats
    misestimate can never broadcast a corpus.

    Cache lifetime: the exploded shingle table feeds sizes, the
    df-pruning subquery, and both self-join sides, so it is persisted
    here (shingling = regex tokenize + n-gram assembly — measured ~5×
    re-evaluation without it) and stays cached for the life of the
    returned DataFrame — the minhash_band_model convention: callers
    that loop pair sweeps own the cleanup (``spark.catalog.clearCache``
    between bench queries; MEMORY_AND_DISK LRU bounds it otherwise).
    The r16 advisor flagged the per-invocation leak; sharing one
    builder at least stops the two finders doubling it when both run
    over the same session."""
    # NOT spread (r17, measured): the per-row work above the scan here
    # (tokenize+shingle, ~0.5 s single-core at sf0.1) is too light to
    # pay for the extra exchange — the interleaved A/B read +1.0 s
    # median WITH the spread vs without, on both the old and new pair
    # generation. Contrast minhash.shingle_table, where the downstream
    # 16-lane md5 signature (~2.8 s single-core) makes the spread a
    # clear win.
    sh = df.select(
        F.col("doc_id").alias("doc"), F.explode(shingles(F.col("text"))).alias("sh")
    ).persist()
    # |shingles(doc)|
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # posting-list pruning: drop hot shingles before the pair join. The
    # df-counts side is the distinct-shingle table — corpus-derived, so
    # shuffle_hash like every other side in this pipeline.
    rare = sh.join(
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .hint("shuffle_hash"),
        "sh",
    ).select("doc", "sh")
    # Pair generation (r17): collapse each rare shingle's posting list
    # with ONE collect_list aggregate (safe ONLY because the max_df
    # prune already ran — list length is ≤ max_df by construction, so
    # no aggregation buffer can hold a hot key's full posting list) and
    # emit the C(f,2) ordered pairs map-side with a nested transform.
    # This replaces the rare ⋈ rare self-join: the groupBy(sh) reuses
    # the prune join's hash partitioning, so the plan drops one
    # corpus-sized ShuffledHashJoin (plan diff: 4 SHJ → 3; same pair
    # multiset — one row per shared rare shingle per pair — because
    # (doc, sh) rows are distinct per doc).
    posts = rare.groupBy("sh").agg(F.collect_list("doc").alias("_docs"))
    pair_arr = F.flatten(
        F.transform(
            F.col("_docs"),
            lambda x: F.transform(
                F.filter(F.col("_docs"), lambda y: y > x),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    common = (
        posts.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # shuffle_hash: the size tables are corpus-sized (one row per doc);
    # never let a stats misestimate broadcast a corpus-derived side.
    sa = sizes.select(
        F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a")
    ).hint("shuffle_hash")
    sb = sizes.select(
        F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b")
    ).hint("shuffle_hash")
    return common.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(df: DataFrame, threshold: float = 0.2, max_df: int = 50) -> DataFrame:
    """All document pairs (a < b) with shingle-set Jaccard ≥ threshold.

    Returns (doc_a, doc_b, jaccard) with jaccard rounded to 6 digits so
    threshold and ordering behave identically across engines. Candidate
    generation is :func:`_pair_candidates` (shared with
    :func:`containment_pairs` — see its docstring for the scale shape
    and cache-lifetime contract); only the measure differs.
    """
    cand = _pair_candidates(df, max_df)
    jac = F.round(
        F.col("common").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("common")).cast("double"),
        6,
    )
    return cand.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    max_df: int = 50,
) -> DataFrame:
    """Directed n-gram CONTAINMENT near-dup pairs (Broder's resemblance
    companion): C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| — the measure that
    catches a document QUOTED or EMBEDDED inside a larger one, which
    symmetric Jaccard misses entirely (a 100-shingle doc fully
    contained in a 10k-shingle doc has Jaccard ≈ 0.01 but containment
    1.0 — the partial-copy / boilerplate-inclusion case a dedup pass
    built on Jaccard silently admits).

    Emits (doc_a, doc_b, common, cont_a_in_b, cont_b_in_a) for pairs
    (a < b) where EITHER direction reaches ``threshold``; both rounded
    containments ship so the caller sees which side is the fragment.

    Candidate generation is :func:`_pair_candidates` — the LITERAL
    pipeline :func:`jaccard_pairs` compiles (one definition, r16
    verdict #4's fold), so the ``max_df`` f² bound and the
    never-broadcast-a-corpus join discipline carry over by
    construction. The asymmetric MEASURE changes only the final
    projection."""
    cand = _pair_candidates(df, max_df)
    c_ab = F.round(F.col("common").cast("double") / F.col("n_a").cast("double"), 6)
    c_ba = F.round(F.col("common").cast("double") / F.col("n_b").cast("double"), 6)
    return (
        cand.select(
            "doc_a",
            "doc_b",
            "common",
            c_ab.alias("cont_a_in_b"),
            c_ba.alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def containment_model(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Freeze the corpus-side posting lists for streaming containment
    admission (streaming/docs.containment_admit_stage): the (doc, sh)
    shingle table PRUNED at document frequency 50 — the same
    posting-list bound the batch pair finders apply, because a hot
    shingle stored in f docs creates f candidate rows PER ARRIVAL (the
    admission-time form of the f² pair blowup). Persisted; re-read per
    micro-batch as the static side of the stream-static shingle join.
    The df counts are over the FROZEN corpus (the model's own universe
    — an admission model cannot know future arrivals' df), which is
    the deterministic contract the batch twin ``containment_against``
    shares."""
    return _pruned_postings(corpus, text_col).persist()


def _pruned_postings(
    corpus: DataFrame, text_col: str
) -> DataFrame:
    """The (doc, sh) posting table pruned at document frequency 50, UNPERSISTED —
    containment_model caches it for per-trigger re-reads; the bucketed
    builder materializes it straight into the table (caching there
    would leak a corpus-sized cache the on-disk layout exists to
    avoid, r16 review catch)."""
    sh = corpus.select(
        F.col("doc_id").alias("doc"), F.explode(shingles(F.col(text_col))).alias("sh")
    )
    return sh.join(
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .hint("shuffle_hash"),
        "sh",
    ).select("doc", "sh")


def containment_model_bucketed(
    corpus: DataFrame,
    table_name: str = "chrono_containment_postings",
    buckets: int = 32,
) -> DataFrame:
    """``containment_model`` persisted as a table BUCKETED on exactly
    [sh] — the admission join's equi-key — so the corpus-sized posting
    list feeds the per-trigger stream-static join with zero static-side
    Exchange (the minhash_band_model_bucketed lever applied to the
    containment member; same restart story via write_bucketed's
    manifest + writers.reattach_bucketed). Builds from the unpersisted
    posting expression — no executor-memory cache is left behind."""
    from chronobase_spark.sources.writers import write_bucketed

    spark = corpus.sparkSession
    write_bucketed(
        _pruned_postings(corpus, "text"),
        table_name,
        "sh",
        buckets,
        sort_col="sh",
    )
    return spark.table(table_name)


def novelty_model(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """Freeze the corpus' DISTINCT shingle set for streaming
    union-novelty admission (streaming/docs.novelty_admit_stage): the
    one-column [sh] membership table, persisted for per-trigger
    re-reads. UNPRUNED deliberately — unlike the posting lists
    (containment_model), whose max_df bound exists because a hot
    shingle explodes into per-candidate rows, the membership join
    matches each arrival shingle AT MOST ONCE (the set is distinct),
    so fan-out is structurally 1 and dropping hot shingles would
    instead falsify the measure exactly where redundancy lives (the
    most common stored content). Callers own the cache lifetime —
    the model-builder convention."""
    return (
        corpus.select(F.explode(shingles(F.col(text_col))).alias("sh"))
        .distinct()
        .persist()
    )


def novelty_model_bucketed(
    corpus: DataFrame,
    table_name: str = "chrono_novelty_shingles",
    buckets: int = 32,
) -> DataFrame:
    """``novelty_model`` persisted as a table BUCKETED on exactly [sh]
    — zero static-side Exchange in the per-trigger membership join;
    same write_bucketed manifest/restart story as every other
    admission model. Built from the unpersisted expression (no
    executor cache left behind)."""
    from chronobase_spark.sources.writers import write_bucketed

    spark = corpus.sparkSession
    write_bucketed(
        corpus.select(F.explode(shingles(F.col("text"))).alias("sh")).distinct(),
        table_name,
        "sh",
        buckets,
        sort_col="sh",
    )
    return spark.table(table_name)


def novelty_candidate_rows(
    arrivals: DataFrame,
    stored_sh: DataFrame,
    text_col: str = "text",
    carry: tuple[str, ...] = (),
    hint: str | None = None,
) -> DataFrame:
    """ONE-definition candidate-row builder shared by the batch
    reference (:func:`novelty_against`) and the streaming stage
    (streaming/docs.novelty_admit_stage). Per-arrival |sh| computed
    BEFORE the explode; explode_outer + left membership join keep
    shingle-less/NULL-text arrivals as (doc_id, NULL match) rows —
    the every-arrival-verdicts contract. ``stored_sh`` must be a
    DISTINCT shingle set (the novelty_model[_bucketed] guarantee —
    trusted here like the containment stage trusts its pruned
    postings) so each arrival shingle matches at most once; no
    re-distinct is applied, which would put an Exchange back above
    the bucketed static scan every trigger."""
    stored = stored_sh.select("sh", F.lit(1).alias("_known"))
    if hint is not None:
        stored = stored.hint(hint)
    sh_arr = arrivals.select(
        F.col("doc_id"),
        *[F.col(c) for c in carry],
        shingles(F.col(text_col)).alias("_sh"),
    ).select(
        "doc_id",
        *carry,
        F.size("_sh").cast("bigint").alias("n_sh"),
        F.explode_outer("_sh").alias("sh"),
    )
    return sh_arr.join(stored, "sh", "left")


def novelty_agg_exprs() -> list:
    """The shared per-(…, doc_id) aggregate: known-shingle count +
    the arrival's shingle-set size (constant per doc)."""
    return [
        F.count(F.col("_known")).cast("bigint").alias("known_sh"),
        F.max("n_sh").alias("n_sh"),
    ]


def novelty_projection(agged: DataFrame, lead: tuple[str, ...] = ()) -> DataFrame:
    """The shared final projection: novelty = 1 − known/|sh| with the
    shingle-less → 0.0 fallback ("introduces nothing" — the containment
    stage's 0.0 convention for the same arrivals)."""
    return agged.select(
        *lead,
        "doc_id",
        "n_sh",
        "known_sh",
        F.when(
            F.col("n_sh") > 0,
            F.round(
                1.0
                - F.col("known_sh").cast("double") / F.col("n_sh").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty"),
    )


def novelty_against(
    arrivals: DataFrame,
    stored_sh: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Batch reference for union-novelty ADMISSION: per arrival, the
    fraction of its distinct shingles absent from the ENTIRE frozen
    corpus' shingle set (from :func:`novelty_model`). The aggregate
    companion to containment admission: containment catches an arrival
    that is a fragment of ONE stored doc; union-novelty catches the
    arrival stitched from MANY stored docs (every piece known, no
    single host — containment low, novelty ≈ 0), the re-crawl/
    boilerplate-collage case per-candidate measures structurally miss.
    The batch doc-ordered twin is the registered `doc_novelty_ratio`
    (novelty vs lower-id docs); this form freezes the reference corpus
    instead, the admission-time contract. One row per arrival,
    including NULL-text/shingle-less ones (novelty 0.0). Compiled from
    the SAME shared builders the streaming stage uses."""
    rows = novelty_candidate_rows(arrivals, stored_sh, text_col, hint="shuffle_hash")
    return novelty_projection(rows.groupBy("doc_id").agg(*novelty_agg_exprs()))


def containment_candidate_rows(
    arrivals: DataFrame,
    postings: DataFrame,
    text_col: str = "text",
    carry: tuple[str, ...] = (),
    hint: str | None = None,
) -> DataFrame:
    """ONE-definition candidate-row builder shared by the batch
    reference (:func:`containment_against`) and the streaming stage
    (streaming/docs.containment_admit_stage) — the md5_band_table
    convention: both surfaces compile the LITERAL same expression, so
    drained-equal holds by construction rather than by parallel
    maintenance. Per-arrival |sh| is computed BEFORE the explode;
    explode_outer + left join keep match-less and shingle-less
    arrivals as (doc_id, NULL cand) rows. ``carry`` passes extra
    columns through (the stage carries ingest_ts for its window);
    ``hint`` optionally pins the postings join side (the batch
    reference uses shuffle_hash — corpus-derived sides never
    broadcast; the stream-static join is left to Catalyst)."""
    post = postings.select(F.col("doc").alias("cand"), "sh")
    if hint is not None:
        post = post.hint(hint)
    sh_arr = arrivals.select(
        F.col("doc_id"),
        *[F.col(c) for c in carry],
        shingles(F.col(text_col)).alias("_sh"),
    ).select(
        "doc_id",
        *carry,
        F.size("_sh").cast("bigint").alias("n_sh"),
        F.explode_outer("_sh").alias("sh"),
    )
    return sh_arr.join(post, "sh", "left")


def containment_agg_exprs() -> list:
    """The shared per-(…, doc_id, cand) aggregate: shared-shingle count
    + the arrival's shingle-set size (constant per doc — max is just
    the passthrough)."""
    return [
        F.count(F.when(F.col("cand").isNotNull(), 1))
        .cast("bigint")
        .alias("common"),
        F.max("n_sh").alias("n_sh"),
    ]


def containment_projection(agged: DataFrame, lead: tuple[str, ...] = ()) -> DataFrame:
    """The shared final projection: rounded containment quotient with
    the (NULL cand | empty shingle set) → 0.0 fallback."""
    return agged.select(
        *lead,
        "doc_id",
        "cand",
        "common",
        F.when(
            F.col("cand").isNotNull() & (F.col("n_sh") > 0),
            F.round(F.col("common").cast("double") / F.col("n_sh").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("containment"),
    )


def containment_against(
    arrivals: DataFrame,
    postings: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Batch reference for containment ADMISSION: per arrival, the
    per-candidate containment C(arrival→stored) = |shared pruned
    shingles| / |sh(arrival)| against a frozen corpus' posting lists
    (from :func:`containment_model`). Returns one row per (doc_id,
    cand) candidate — arrivals matching nothing (or with no shingles,
    incl. NULL text) keep a (doc_id, NULL cand, 0.0) row, the
    every-arrival-verdicts admission contract. Compiled from the SAME
    shared builders the streaming stage uses
    (:func:`containment_candidate_rows` / :func:`containment_agg_exprs`
    / :func:`containment_projection`); reduce to a per-arrival verdict
    with the shared argmax (streaming/docs.finalize_containment)."""
    rows = containment_candidate_rows(arrivals, postings, text_col, hint="shuffle_hash")
    return containment_projection(
        rows.groupBy("doc_id", "cand").agg(*containment_agg_exprs())
    )
