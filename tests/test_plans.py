"""Physical-plan assertions: the scale posture as executable checks.

Correctness tests prove the answer; these prove the PLAN — that the
Catalyst properties the 100 TB design depends on (predicate pushdown,
column pruning, broadcast dimension joins, no quadratic join anywhere
in a scale-path operator) actually hold and stay held. Each assertion
is the Spark-native form of an optimization the reference hand-rolled
or left dead (SURVEY.md §4): tablet pruning -> pushed filters; columnar
intent -> pruned ReadSchema; bounded merge fan-in -> no nested-loop.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark import queries as q  # noqa: E402
from chronobase_spark.plans import inspect  # noqa: E402
from tests.conftest import SF_SMOKE  # noqa: E402

QUADRATIC = ("BroadcastNestedLoopJoin", "CartesianProduct")


def _plan(spark, name: str) -> str:
    df = q.queries()[name](spark, SF_SMOKE)
    return inspect.explain_str(df, "extended")


def test_time_range_scan_pushes_ts_bounds(spark):
    """Reference tablet pruning (table.go:146-149) -> parquet pushdown:
    both inclusive interval bounds must reach the scan."""
    df = q.queries()["time_range_scan"](spark, SF_SMOKE)
    pushed = inspect.pushed_filters(df)
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed, pushed


def test_key_lookup_pushes_equality(spark):
    """Reference key index intent (index.go:231-236) -> EqualTo pushdown."""
    df = q.queries()["key_lookup"](spark, SF_SMOKE)
    assert "EqualTo(event_id,123)" in inspect.pushed_filters(df)


def test_pricing_summary_prunes_columns(spark):
    """A 7-column aggregate over a 11-column table must not read the
    other columns (ColumnPruning)."""
    df = q.queries()["pricing_summary"](spark, SF_SMOKE)
    schema = inspect.read_schema(df)
    assert "l_quantity" in schema
    assert "l_orderkey" not in schema and "l_partkey" not in schema, schema


def test_star_join_broadcasts_every_dimension(spark):
    """revenue_by_region: 3 dimension joins, all broadcast — the fact
    side must never shuffle for a dim join."""
    df = q.queries()["revenue_by_region"](spark, SF_SMOKE)
    plan = inspect.explain_str(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "minhash_dedup_pairs",
        "simhash_md5_pairs",
        "ngram_jaccard_pairs",
        "levenshtein_near_pairs",
        "embedding_near_pairs",
        "ivf_topk_cosine",
        "event_pairs_within_gap",
        "asof_last_error",
        "doc_repetition",
        "decontam_overlap",
        "quality_filter_funnel",
        "ewma_user_value",
        "ohlc_hourly",
        "gap_fill_interp",
        "counter_rate",
    ],
)
def test_scale_path_ops_have_no_quadratic_join(spark, name):
    """Every sub-quadratic-by-construction operator must plan zero
    nested-loop/cartesian joins — the property that makes it survive
    100 TB. (topk_cosine is exempt by design: its broadcast
    nested-loop over a HANDFUL of probe vectors is the intended
    brute-force baseline.)"""
    plan = _plan(spark, name)
    for op in QUADRATIC:
        assert op not in plan, f"{name} plans {op}"


@pytest.mark.parametrize(
    "name",
    [
        "minhash_dedup_pairs",
        "simhash_md5_pairs",
        "ngram_jaccard_pairs",
        "levenshtein_near_pairs",
    ],
)
def test_lsh_pipelines_never_broadcast_corpus_sides(spark, name):
    """Every join side in the LSH dedup pipelines is corpus-derived
    (banded signatures, shingle arrays, per-doc sizes): a Catalyst stats
    misestimate must never promote one to BroadcastExchange — that is a
    guaranteed OOM at 100 TB (the 16x probe measured exactly this on the
    band join before it was hinted, SCALING.md). All candidate/verify
    joins carry shuffle_hash hints; this pins them."""
    plan = _plan(spark, name)
    assert "BroadcastExchange" not in plan, f"{name} broadcasts a corpus side:\n{plan}"


def test_decorrelation_shapes_plan_semi_anti_joins(spark):
    """The three hard TPC-H decorrelation shapes (Q17/Q18/Q21 — r6
    verdict ask) must decorrelate into hash-keyed semi/anti joins, not
    nested loops: Q18's IN-over-grouped-HAVING plans a LeftSemi, Q21's
    stacked EXISTS/NOT EXISTS plan a LeftSemi AND a LeftAnti, and all
    three plan zero quadratic joins."""
    p18 = _plan(spark, "top_volume_orders")
    assert "LeftSemi" in p18, p18
    p21 = _plan(spark, "sole_late_supplier")
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21
    p20 = _plan(spark, "dominant_part_suppliers")
    assert "LeftSemi" in p20, p20
    p17 = _plan(spark, "small_quantity_revenue")
    for plan in (p17, p18, p20, p21):
        for bad in QUADRATIC:
            assert bad not in plan, plan


def test_window_queries_are_partitioned(spark):
    """No window operator may run unpartitioned (a global Window.orderBy
    funnels the dataset through one task)."""
    for name in ["top3_events_per_user", "event_gap_seconds", "moving_value_sum",
                 "user_sessions", "rank_lead_purchases", "counter_rate",
                 "gap_fill_interp", "doc_pack_chunks"]:
        plan = _plan(spark, name)
        # every Window node must have a non-empty partition spec -> its
        # Exchange is hashpartitioning; SinglePartition anywhere in these
        # plans would mean a one-task global sort
        assert "SinglePartition" not in plan, f"{name} has a global window"


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    runtime Exchange on either side — the shuffle was paid at write time
    (sources.writers.write_bucketed). This is the co-located-join layout
    a 100 TB fact table uses for its every-day join key."""
    from chronobase_spark import catalog
    from chronobase_spark.sources import writers

    ev = catalog.table(spark, SF_SMOKE, "events")
    left = ev.select("event_id", "user_id", "value")
    right = ev.select("event_id", "user_id", "event_type")
    writers.write_bucketed(left, "bkt_left", "user_id", 8, sort_col="user_id")
    writers.write_bucketed(right, "bkt_right", "user_id", 8, sort_col="user_id")
    try:
        # hint forces SMJ (at sf0.001 the right side fits broadcast, which
        # would hide the bucketed path under test; at real scale SMJ is
        # what Catalyst picks on its own)
        joined = (
            spark.table("bkt_left")
            .hint("merge")
            .join(spark.table("bkt_right"), "user_id")
            .groupBy("user_id")
            .count()
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


# Queries allowed to plan a nested-loop join or a SinglePartition
# exchange, each for a reviewed reason. Everything else in the registry
# must plan neither — this is the registry-wide "no new scale-killers"
# gate (the per-name tests above pin the positive properties; this
# sweep catches a regression in ANY query, including future ones).
_SCALE_FLAG_ALLOWLIST = {
    # global-scalar aggregates: the SinglePartition exchange carries one
    # map-side partial row per task, never the data
    "funnel_stage_counts": {"single-partition"},
    "orders_above_avg": {"single-partition"},  # scalar AVG subquery
    "profile_columns": {"single-partition"},
    "sketch_rollup_users": {"single-partition"},  # HLL union to one row
    # the exact twin's grand-total leg: partial-agged distinct-user
    # scalars cross the SinglePartition exchange (1 row out), after the
    # corpus already collapsed to the (day, user) pair table
    "distinct_rollup_users": {"single-partition"},
    "table_stats": {"single-partition"},
    # intended broadcasts of tiny sides (probes / centroids / totals)
    "topk_cosine": {"bnlj"},  # brute-force baseline over ~3 probe rows
    "ivf_assign_counts": {"bnlj"},  # |labels| centroid rows broadcast
    # two Lloyd assign passes, each a k-row centroid broadcast cross
    # (ivf_assign_counts pattern, once per iteration)
    "kmeans_lloyd_assign": {"bnlj"},
    # same quantizer passes + the |probes|-row broadcast for the
    # cell-restricted search
    "ivf_kmeans_topk": {"bnlj"},
    # inherits the quantizer's k-row centroid broadcast cross; the
    # sampler itself adds only a k-row count join + map-side keep test
    "cluster_balanced_sample": {"bnlj"},
    "tfidf_top_terms": {"bnlj", "single-partition"},  # doc-count scalar
    "bm25_top_terms": {"bnlj", "single-partition"},  # N/avgdl 1-row consts
    # 1-row probe + N/avgdl consts broadcast; the global rank windows
    # run AFTER a distributed top-50 TakeOrderedAndProject, so the
    # SinglePartition exchange carries <= per_side rows, never the corpus
    "rrf_hybrid_topk": {"bnlj", "single-partition"},
    # ground-truth side reuses topk_cosine's broadcast-probe pass; the
    # recall metric is a scalar aggregate over two 10-row sides
    "ann_recall_at_10": {"bnlj", "single-partition"},
    # Q19-shape scalar revenue: one partial-agged decimal sum row per
    # task reaches the single partition, never the data
    "disjunctive_part_revenue": {"single-partition"},
    # Q17 shape: same scalar-revenue pattern — the decorrelated
    # aggregate join is fully distributed; only the final 1-row
    # (revenue, n_lines) aggregate crosses a SinglePartition exchange
    "small_quantity_revenue": {"single-partition"},
    # Q22 shape: 1-row (n, sum) totals broadcast over the anti-joined
    # customer side — the scalar-threshold pattern (orders_above_avg)
    "lapsed_rich_customers": {"bnlj", "single-partition"},
    "source_mix_weights": {"bnlj", "single-partition"},  # 1-row totals
    "nation_revenue_share": {"bnlj", "single-partition"},  # 1-row total revenue
    # Q15 shape: the MAX-over-grouped-revenue scalar crosses a
    # SinglePartition exchange as one partial row per task; the 1-row
    # broadcast back onto rev plans as a plain BroadcastHashJoin-free
    # cross (no BNLJ flagged — the literal join keys fold away)
    "top_supplier_revenue": {"single-partition"},
    # vocabulary size V is a 1-row countDistinct broadcast onto the
    # gram-type LM table; the corpus-sized joins are gram-keyed
    # shuffle_hash
    "bigram_lm_logprob": {"bnlj", "single-partition"},
    # KN: the 1-row bigram-type total broadcasts over the gram-type LM
    # table as a literal-free cross (bigram_lm V pattern); context/
    # continuation joins are word-keyed shuffle_hash and the score
    # join stays gram-keyed shuffle_hash
    "kn_bigram_logprob": {"bnlj", "single-partition"},
    # JM trigram: the 1-row corpus token total N broadcasts over the
    # trigram-type LM table as a literal-free cross (bigram_lm V
    # pattern); prefix/bigram/unigram marginal joins are key-bound
    # shuffle_hash and the score join stays gram-keyed shuffle_hash
    "jm_trigram_logprob": {"bnlj", "single-partition"},
    # 1-row corpus token total broadcast over the vocab-sized
    # per-source join frame (bigram_lm V pattern); the corpus-sized
    # tok join is shuffle_hash
    "source_unigram_kl": {"bnlj", "single-partition"},
    # two 1-row scalars (corpus total, temperature-sum) broadcast over
    # the |sources|-sized count table (source_mix_weights pattern)
    "source_mix_temperature": {"bnlj", "single-partition"},
    # Q6 shape: pure scan-filter-aggregate to ONE row — the
    # SinglePartition exchange carries one partial (sum, count) row
    # per task, never the data (small_quantity_revenue pattern)
    "discount_revenue_forecast": {"single-partition"},
    # Q11 shape: the 1-row (total_value, n_parts) scalar broadcasts
    # back over the |parts|-sized aggregate as a literal-free cross
    # (BNLJ of 1 row × |parts|); only partial-agged rows cross the
    # SinglePartition exchange (orders_above_avg pattern)
    "important_part_values": {"bnlj", "single-partition"},
    # corpus-scaled SemDeDup: the adaptive plane count k is a 1-row
    # count aggregate (partial rows cross the SinglePartition
    # exchange) broadcast back as a literal-free cross over the
    # signature table (BNLJ of 1 row × n) — the corpus itself only
    # ever moves through the cell-keyed shuffle_hash joins
    "semantic_dedup_scaled": {"bnlj", "single-partition"},
    # composed pipeline embeds the semantic_dedup_scaled stage, so it
    # inherits that stage's reviewed 1-row-k scalar broadcast
    "pretrain_pipeline_report": {"bnlj", "single-partition"},
    # three 1-row count scalars crossed together (partial rows cross
    # the exchange; the pair tables themselves join key-equi)
    "minhash_lsh_recall": {"bnlj", "single-partition"},
    "dup_graph_triangles": {"bnlj", "single-partition"},
    # the 1-row bigram-total scalar (partial rows cross the exchange)
    # broadcast back over the vocabulary-sized candidate table as a
    # literal-free cross — the orders_above_avg scalar pattern
    "collocation_topk": {"bnlj", "single-partition"},
    # the |types|^2 non-equi pair frame (tiny x tiny) and the 1-row
    # day-count scalar; the only corpus-proportional work is the
    # bucket-keyed equi self-join, which plans as a shuffle join
    "event_type_minute_corr": {"bnlj", "single-partition"},
    # the corpus is reduced to a |langs|x|sources| CONSTANT cell table
    # by one partial-agged groupBy; the grand-total window's
    # SinglePartition exchange carries those constant rows only
    # (zipf bounded-head rule)
    "lang_source_pmi": {"single-partition"},
    "lang_source_mi": {"single-partition"},
    # hard-capped probe set (filter -> orderBy(vec_id).limit(1000))
    # broadcast over the corpus — the topk_cosine brute-force pattern
    # with an explicit size bound, so the BNLJ side can never exceed
    # 1000 rows at any SF
    "hard_negative_mining": {"bnlj"},
    # hard-capped probe set (gated % 101 filter -> orderBy(doc_id)
    # .limit(8)) broadcast over the corpus grids — the same explicit
    # size bound, so the BNLJ side can never exceed 8 rows at any SF
    "raster_topk_l1": {"bnlj"},
    # 1-row budget scalar broadcast over the |score-values| histogram
    # (bigram_lm V pattern); the two single-partition windows run over
    # the tiny score-histogram and shard-offset tables only — the
    # corpus-sized legs are the map-side admit and the rshard-
    # partitioned boundary window (quality_topq_filter histogram
    # pattern + doc_pack_chunks sharded prefix sum)
    "token_budget_select": {"bnlj", "single-partition"},
    # 1-row (total, n_labels, max_n) scalar broadcast back over the
    # |labels|-sized count table; partial rows cross the
    # SinglePartition exchange (source_mix_weights pattern)
    "label_balance_plan": {"bnlj", "single-partition"},
    # LITERAL-bounded probe pair frame (vec_id < 20 both sides): the
    # non-equi id_a < id_b join broadcasts a ≤20-row side at any SF
    "jl_distance_preservation": {"bnlj"},
    # two topk_cosine passes (raw + whitened), each the reviewed 3-row
    # probe broadcast cross; the 64-row dim-stats broadcast is constant
    "whitened_topk_overlap": {"bnlj"},
    # 1-row totals (n_r, n_t) crossed over the ≤4096-row bucket ratio
    # table, and the 1-row max-weight broadcast over the persisted doc
    # weight table; SinglePartition carries partial-agg scalars only
    "dsir_select": {"bnlj", "single-partition"},
}


def test_registry_sweep_no_unreviewed_scale_flags(smoke_frame):
    """Plan every registered query and assert no CartesianProduct,
    BroadcastNestedLoopJoin, or SinglePartition exchange outside the
    reviewed allowlist — and that the allowlist itself stays exact, so
    an entry whose plan improves gets pruned rather than rotting."""
    flagged: dict[str, set[str]] = {}
    for name in sorted(q.queries()):
        plan = inspect._executed_plan(smoke_frame(name))
        f = set()
        if "CartesianProduct" in plan:
            f.add("cartesian")
        if "BroadcastNestedLoopJoin" in plan:
            f.add("bnlj")
        if "SinglePartition" in plan:
            f.add("single-partition")
        if f:
            flagged[name] = f
    assert flagged == _SCALE_FLAG_ALLOWLIST


def test_admission_bucketed_model_static_side_never_shuffles(spark):
    """The pre-bucketed frozen-model lever (minhash_band_model_bucketed):
    under the admission join's exact keys, the bucketed band table's
    scan must feed the join with NO Exchange above it — only the
    arriving (micro-batch) side shuffles, so the per-trigger cost is
    trigger-sized, not store-sized. Broadcast is disabled so the tiny
    test corpus exercises the layout SMJ path the real store would use."""
    from pyspark.sql import functions as F

    from chronobase_spark import catalog
    from chronobase_spark.dedup import minhash

    docs = (
        catalog.table(spark, SF_SMOKE, "documents")
        .filter("text IS NOT NULL")
        .limit(150)
    )
    bands_b, _sh_b = minhash.minhash_band_model_bucketed(
        docs, table_prefix="t_bkt_plan", buckets=4
    )
    arr = minhash.md5_band_table(docs.limit(25)).select(
        "doc", "band_id", "band_val"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = arr.join(
            bands_b.select(F.col("doc").alias("cand"), "band_id", "band_val"),
            ["band_id", "band_val"],
            "left",
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            ln for ln in plan.splitlines() if "t_bkt_plan_bands" in ln
        ]
        assert scan_lines and all(
            "Bucketed: true" in ln for ln in scan_lines
        ), plan
        # exactly one exchange on the BAND keys in the whole join — the
        # arriving side's (the arriving subtree also exchanges on doc
        # while building its own signature, which is fine: it is
        # trigger-sized). A second band-key exchange would mean the
        # store re-shuffles per trigger, the exact cost the layout
        # removes.
        hash_ex = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "band_val" in ln
        ]
        assert len(hash_ex) == 1, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_plan_bands")
        spark.sql("DROP TABLE IF EXISTS t_bkt_plan_shingles")


def test_bucketed_model_semantic_and_phash_members(spark):
    """The embedding and image members of the pre-bucketed lever:
    each bucketed model must (a) carry exactly the in-memory model's
    rows and (b) feed the admission-shaped join with a single
    join-key Exchange — the arriving side's — while its own scan
    stays exchange-free."""
    from pyspark.sql import functions as F

    from chronobase_spark import catalog
    from chronobase_spark.dedup import embedding as emb
    from chronobase_spark.dedup import phash

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # --- semantic member ---
        vecs = catalog.table(spark, SF_SMOKE, "embeddings")
        cells_m, k_m = emb.semantic_cell_model_scaled(vecs)
        cells_b, k_b = emb.semantic_cell_model_bucketed(
            vecs, table_prefix="t_bkt_sem", buckets=4
        )
        assert k_b == k_m
        assert {(r["vid"], r["cell"]) for r in cells_b.collect()} == {
            (r["vid"], r["cell"]) for r in cells_m.collect()
        }
        arr = vecs.limit(20).select(
            "vec_id",
            emb.lsh_signature(
                F.col("embedding"), emb.hyperplanes(k_b)
            ).alias("cell"),
        )
        j = arr.join(cells_b.select("vid", "cell"), "cell")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert all(
            "Bucketed: true" in ln
            for ln in plan.splitlines()
            if "t_bkt_sem_cells" in ln
        ), plan
        cell_ex = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning(cell" in ln
        ]
        assert len(cell_ex) == 1, plan
        cells_m.unpersist()

        # --- image member ---
        docs = (
            catalog.table(spark, SF_SMOKE, "documents")
            .filter(
                "text IS NOT NULL AND "
                f"octet_length(encode(text, 'UTF-8')) >= {phash.MIN_PAYLOAD_BYTES}"
            )
            .limit(80)
        )
        chunks_m = phash.phash_band_model(docs)
        chunks_b = phash.phash_band_model_bucketed(
            docs, table_prefix="t_bkt_ph", buckets=4
        )
        assert {tuple(r) for r in chunks_b.collect()} == {
            tuple(r) for r in chunks_m.collect()
        }
        arr2 = chunks_m.limit(30).select("doc", "chunk_id", "chunk_val")
        j2 = arr2.join(
            chunks_b.select(
                F.col("doc").alias("cand"), "chunk_id", "chunk_val"
            ),
            ["chunk_id", "chunk_val"],
        )
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert all(
            "Bucketed: true" in ln
            for ln in plan2.splitlines()
            if "t_bkt_ph_chunks" in ln
        ), plan2
        chunk_ex = [
            ln
            for ln in plan2.splitlines()
            if "Exchange hashpartitioning" in ln and "chunk_val" in ln
        ]
        assert len(chunk_ex) == 1, plan2
        chunks_m.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bkt_sem_cells")
        spark.sql("DROP TABLE IF EXISTS t_bkt_ph_chunks")


def test_write_bucketed_append_preserves_existing_rows(spark):
    """mode='append' must ADD to an existing bucketed table — the r15
    advisor found the unconditional DROP+location-delete turned append
    into destroy-then-recreate (silent data loss for any future
    caller). Overwrite then append: the count must double and the
    table must still be bucketed."""
    from chronobase_spark.sources import writers

    df = spark.range(100).selectExpr("id AS user_id", "id * 2 AS v")
    try:
        writers.write_bucketed(df, "t_app_pin", "user_id", 4, sort_col="user_id")
        assert spark.table("t_app_pin").count() == 100
        writers.write_bucketed(
            df, "t_app_pin", "user_id", 4, sort_col="user_id", mode="append"
        )
        assert spark.table("t_app_pin").count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS t_app_pin")


def test_write_bucketed_name_normalization(spark):
    """Mixed-case names are lower-cased to match the catalog's identifier
    folding (so the stale-location path and manifest land where the
    table actually lives); qualified names are rejected outright —
    both r15 advisor notes."""
    from chronobase_spark.sources import writers

    df = spark.range(10).selectExpr("id AS user_id")
    try:
        writers.write_bucketed(df, "T_MiXeD_Pin", "user_id", 2)
        assert spark.catalog.tableExists("t_mixed_pin")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        # manifest written beside the data, at the normalized location
        p = spark._jvm.org.apache.hadoop.fs.Path(
            f"{wh}/t_mixed_pin/{writers.BUCKET_MANIFEST}"
        )
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        assert fs.exists(p)
        with pytest.raises(ValueError, match="unqualified"):
            writers.write_bucketed(df, "somedb.tbl", "user_id", 2)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_mixed_pin")


def test_reattach_bucketed_requires_manifest(spark, tmp_path):
    """A directory without the write_bucketed manifest must be refused:
    attaching unknown files with guessed bucket metadata would either
    fail subtly or silently reintroduce the per-trigger Exchange."""
    from chronobase_spark.sources import writers

    spark.range(5).write.parquet(str(tmp_path / "plain"))
    with pytest.raises(FileNotFoundError, match="bucket"):
        writers.reattach_bucketed(spark, "t_no_manifest", str(tmp_path / "plain"))


def test_reattach_bucketed_same_session_external_location(spark, tmp_path):
    """reattach_bucketed over a COPY of a bucketed table's files (no
    catalog entry for the copy — the restart scenario's essence: files
    exist, metadata doesn't) must yield an external table that (1)
    matches the original's content and (2) still plans Bucketed: true
    under the bucket-key join with no static-side Exchange."""
    import shutil

    from pyspark.sql import functions as F

    from chronobase_spark.sources import writers

    df = spark.range(200).selectExpr("id AS user_id", "id % 7 AS v")
    try:
        writers.write_bucketed(df, "t_ra_src", "user_id", 4, sort_col="user_id")
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        copied = str(tmp_path / "relocated")
        shutil.copytree(f"{wh}/t_ra_src", copied)
        ra = writers.reattach_bucketed(spark, "t_ra_copy", copied)
        assert sorted(map(tuple, ra.collect())) == sorted(
            map(tuple, spark.table("t_ra_src").collect())
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.range(30).selectExpr("id AS user_id")
            j = probe.join(ra.select("user_id", F.col("v")), "user_id")
            plan = j._jdf.queryExecution().executedPlan().toString()
            scan = [ln for ln in plan.splitlines() if "t_ra_copy" in ln]
            assert scan and all("Bucketed: true" in ln for ln in scan), plan
            assert j.count() == 30
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        # external: dropping the re-attached table must NOT delete data
        spark.sql("DROP TABLE t_ra_copy")
        assert os.path.exists(copied) and os.listdir(copied)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ra_src")
        spark.sql("DROP TABLE IF EXISTS t_ra_copy")


def test_restart_reattach_two_session_probe(restart_probe):
    """The two-session model pin, read from the restart probe
    (tests/conftest.py): session A builds the bucketed minhash bands +
    shingles and containment postings, stop() kills the in-memory
    catalog, session B re-attaches all three from the on-disk manifest
    and must see each table's session-A row count, an identical
    admission band-join result over a frozen arrival sample, a
    Bucketed: true band scan and exactly one (arriving-side) band_val
    Exchange."""
    out = restart_probe
    assert out["counts_equal_after_reattach"]
    assert out["band_join_equal_after_reattach"]
    assert out["band_scan_bucketed_after_reattach"] is True
    assert out["band_val_exchanges_after_reattach"] == 1
    # the whole point: recovery is DDL-priced, not store-sized
    assert out["reattach_s"] < out["build_s"]


def test_containment_bucketed_postings_static_side_never_shuffles(spark):
    """The bucketed-model lever applied to the containment admission
    member: posting lists bucketed on exactly [sh] must feed the
    admission shingle join with NO Exchange above the static scan —
    only the (trigger-sized) arriving side shuffles. Broadcast
    disabled so the tiny test corpus exercises the layout path."""
    from pyspark.sql import functions as F

    from chronobase_spark import catalog
    from chronobase_spark.dedup import ngram

    docs = (
        catalog.table(spark, SF_SMOKE, "documents")
        .filter("text IS NOT NULL")
        .limit(150)
    )
    postings = ngram.containment_model_bucketed(
        docs, table_name="t_cont_plan", buckets=4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        arr = docs.limit(25).select(
            F.col("doc_id"),
            F.explode(ngram.shingles(F.col("text"))).alias("sh"),
        )
        j = arr.join(
            postings.select(F.col("doc").alias("cand"), "sh"), "sh", "left"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        scan_lines = [ln for ln in plan.splitlines() if "t_cont_plan" in ln]
        assert scan_lines and all(
            "Bucketed: true" in ln for ln in scan_lines
        ), plan
        sh_ex = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "sh#" in ln
        ]
        assert len(sh_ex) == 1, plan  # the arriving side's only
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_cont_plan")


def test_reattach_bucketed_refuses_managed_table(spark):
    """Re-attaching a name that is currently a MANAGED table must
    refuse: the DROP would delete the very files being attached and
    the re-create would silently yield an empty model (r16 review
    catch). Data must be intact after the refusal."""
    from chronobase_spark.sources import writers

    df = spark.range(50).selectExpr("id AS user_id")
    try:
        writers.write_bucketed(df, "t_ra_managed", "user_id", 2)
        with pytest.raises(ValueError, match="MANAGED"):
            writers.reattach_bucketed(spark, "t_ra_managed")
        assert spark.table("t_ra_managed").count() == 50
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ra_managed")


def test_seasonal_decompose_window_is_day_scoped(spark):
    """seasonal_decompose_hod's moving-average window must partition on
    (event_type, day) — a type-only partition hands one task a type's
    FULL history at scale (|types| is small). Pins the day key in the
    Window spec so a refactor can't silently regress to the
    type-global sort."""
    import re

    df = q.queries()["seasonal_decompose_hod"](spark, SF_SMOKE)
    ext = inspect.explain_str(df, "extended")
    # the analyzed plan projects to_date(ts) as the second window key
    assert "to_date" in ext, ext[:2000]
    # every window spec partitions on BOTH event_type and the projected
    # day key (windowspecdefinition(event_type#N, _wM#K, ts ASC ...)),
    # and the window Exchange hashes on both — a type-only spec would
    # read windowspecdefinition(event_type#N, ts#...
    specs = [ln for ln in ext.splitlines() if "windowspecdefinition" in ln]
    assert specs, ext[:2000]
    assert all(
        re.search(r"windowspecdefinition\(event_type#\d+, _w\d+#\d+,", ln)
        for ln in specs
    ), specs
    assert any(
        re.search(r"hashpartitioning\(event_type#\d+, _w\d+#\d+", ln)
        for ln in ext.splitlines()
    ), ext[:2000]


def test_reattach_bucketed_rejects_truncated_manifest(spark, tmp_path):
    """A crash-truncated (or otherwise malformed) manifest must surface
    as a ValueError naming the file, not a raw JSONDecodeError from
    deep inside the attach path (r16 verdict #2a). The write side is
    atomic (temp + rename), so this state only arises from external
    damage — all the more reason the message must say where to look."""
    import shutil

    from chronobase_spark.sources import writers

    df = spark.range(40).selectExpr("id AS user_id")
    try:
        writers.write_bucketed(df, "t_trunc_src", "user_id", 2)
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        copied = str(tmp_path / "trunc")
        shutil.copytree(f"{wh}/t_trunc_src", copied)
        mf = os.path.join(copied, writers.BUCKET_MANIFEST)
        blob = open(mf, "rb").read()
        with open(mf, "wb") as f:
            f.write(blob[: len(blob) // 2])  # mid-JSON truncation
        # with the local FS's .crc sidecar in place the read itself
        # trips (ChecksumException); without it — a plain FS, the
        # realistic crash shape — the JSON decode trips. Both must
        # land on the same graceful error.
        with pytest.raises(ValueError, match="malformed bucket manifest"):
            writers.reattach_bucketed(spark, "t_trunc_copy", copied)
        crc = os.path.join(copied, f".{writers.BUCKET_MANIFEST}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        with pytest.raises(ValueError, match="malformed bucket manifest"):
            writers.reattach_bucketed(spark, "t_trunc_copy", copied)
        assert not spark.catalog.tableExists("t_trunc_copy")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_trunc_src")
        spark.sql("DROP TABLE IF EXISTS t_trunc_copy")


def test_reattach_bucketed_refuses_tampered_layout(spark, tmp_path):
    """The manifest is verified against the files before the CREATE is
    trusted (r16 verdict #2b): (1) a directory rewritten out-of-band by
    a PLAIN parquet writer (manifest survives beside non-bucketed
    files) must refuse — attaching it would plan shuffle-free bucketed
    joins over unbucketed files and silently drop matches; (2) a
    bucketed directory missing one data file must refuse on the file
    census / row count, not return a quietly smaller model."""
    import glob
    import shutil

    from chronobase_spark.sources import writers

    df = spark.range(300).selectExpr("id AS user_id", "id % 5 AS v")
    try:
        writers.write_bucketed(df, "t_tamper_src", "user_id", 4)
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

        # (1) plain rewrite: keep the manifest, replace the data files
        rewritten = str(tmp_path / "rewritten")
        os.makedirs(rewritten)
        shutil.copy(
            f"{wh}/t_tamper_src/{writers.BUCKET_MANIFEST}",
            os.path.join(rewritten, writers.BUCKET_MANIFEST),
        )
        df.coalesce(2).write.mode("append").parquet(rewritten)
        with pytest.raises(ValueError, match="bucketed layout"):
            writers.reattach_bucketed(spark, "t_tamper_a", rewritten)
        assert not spark.catalog.tableExists("t_tamper_a")

        # (2) one bucket file deleted after the manifest was written
        amputated = str(tmp_path / "amputated")
        shutil.copytree(f"{wh}/t_tamper_src", amputated)
        victim = sorted(glob.glob(os.path.join(amputated, "part-*")))[0]
        os.remove(victim)
        with pytest.raises(ValueError, match="out-of-band|manifest recorded"):
            writers.reattach_bucketed(spark, "t_tamper_b", amputated)
        assert not spark.catalog.tableExists("t_tamper_b")

        # the untampered source still attaches fine from a copy
        clean = str(tmp_path / "clean")
        shutil.copytree(f"{wh}/t_tamper_src", clean)
        ra = writers.reattach_bucketed(spark, "t_tamper_ok", clean)
        assert ra.count() == 300
    finally:
        for t in ("t_tamper_src", "t_tamper_a", "t_tamper_b", "t_tamper_ok"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ensure_bucketed_three_paths(spark, tmp_path):
    """ensure_bucketed is the one-call boot path: cold start builds,
    warm catalog reuses without touching the builder, and the restart
    case (files + manifest, empty catalog) re-attaches instead of
    rebuilding. The builder's call count distinguishes the paths."""
    import shutil

    from chronobase_spark.sources import writers

    calls = []

    def build():
        calls.append(1)
        writers.write_bucketed(
            spark.range(120).selectExpr("id AS user_id", "id % 3 AS v"),
            "t_ensure_pin",
            "user_id",
            4,
        )

    try:
        # cold start: nothing anywhere -> build() runs
        df = writers.ensure_bucketed(spark, "t_ensure_pin", build)
        assert calls == [1] and df.count() == 120

        # warm catalog: table exists -> neither build nor re-attach
        df = writers.ensure_bucketed(spark, "t_ensure_pin", build)
        assert calls == [1] and df.count() == 120

        # restart case: files + manifest survive at an external
        # location, catalog has no entry -> re-attach, builder untouched
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        relocated = str(tmp_path / "surviving")
        shutil.copytree(f"{wh}/t_ensure_pin", relocated)
        df2 = writers.ensure_bucketed(
            spark, "t_ensure_relocated", build, location=relocated
        )
        assert calls == [1] and df2.count() == 120
        assert (
            spark.catalog.getTable("t_ensure_relocated").tableType or ""
        ).upper() == "EXTERNAL"

        # a builder that forgets to register the table fails loudly
        with pytest.raises(ValueError, match="without registering"):
            writers.ensure_bucketed(spark, "t_ensure_noop", lambda: None)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ensure_pin")
        spark.sql("DROP TABLE IF EXISTS t_ensure_relocated")


def test_novelty_bucketed_membership_static_side_never_shuffles(spark):
    """The bucketed-model lever applied to the union-novelty admission
    member (r17): the distinct shingle membership table bucketed on
    exactly [sh] must feed the admission join with NO Exchange above
    the static scan — and the candidate builder must not re-distinct
    it (which would put a per-trigger hash aggregate + Exchange back
    above the scan; distinctness is the model builder's guarantee).
    Broadcast disabled so the tiny test corpus exercises the layout."""
    from pyspark.sql import functions as F

    from chronobase_spark import catalog
    from chronobase_spark.dedup import ngram

    docs = (
        catalog.table(spark, SF_SMOKE, "documents")
        .filter("text IS NOT NULL")
        .limit(150)
    )
    model = ngram.novelty_model_bucketed(docs, table_name="t_nv_plan", buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = ngram.novelty_candidate_rows(docs.limit(25), model)
        plan = j._jdf.queryExecution().executedPlan().toString()
        scan_lines = [ln for ln in plan.splitlines() if "t_nv_plan" in ln]
        assert scan_lines and all(
            "Bucketed: true" in ln for ln in scan_lines
        ), plan
        sh_ex = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "sh#" in ln
        ]
        assert len(sh_ex) == 1, plan  # the arriving side's only
        # no aggregate may sit between the static scan and the join
        # (a re-distinct would plan HashAggregate over the scan)
        assert "HashAggregate" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_nv_plan")
