"""Scaling probe: replicate the sf0.1 corpus N-fold on disk and measure
how the headline operators scale with input size. Near-linear wall-time
growth (at fixed parallelism) is the evidence that the plans have no
hidden quadratic stage and would survive a 100 TB cluster where scale-up
comes from more executors, not bigger partitions.

Writes scratch data under .scratch/ (gitignored); prints a markdown
table for SCALING.md.

Usage: python scripts/scaling_probe.py [factors...]   (default 1 4 16)
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from chronobase_spark import get_spark
from chronobase_spark.dedup import minhash, ngram
from chronobase_spark.functions import similarity, text
from chronobase_spark.operators import timeseries, windows

BASE_SF = "/root/testdata/sf0.1"
SCRATCH = Path(__file__).resolve().parent.parent / ".scratch" / "scaling"


def replicate(spark, table: str, factor: int, id_col: str) -> str:
    """Materialize `factor` disjoint-id copies of a table (id shifted per
    copy so dedup/join keys stay unique)."""
    dest = SCRATCH / f"{table}_x{factor}"
    if dest.exists():
        return str(dest)
    from chronobase_spark import catalog

    # catalog normalization (ns->µs events ts) so replicas carry proper
    # timestamp types
    base = catalog.table(spark, BASE_SF, table)
    if "__ts_ns" in base.columns:
        base = base.drop("__ts_ns")
    shift = 10_000_000
    copies = base.withColumn("_copy", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
    out = copies.withColumn(id_col, F.col(id_col) + F.col("_copy") * shift).drop("_copy")
    out.repartition(32).write.mode("overwrite").parquet(str(dest))
    return str(dest)


def run_factor(spark, factor: int) -> dict:
    """All probe stages at one replication factor — MIN-OF-2 full
    passes, cache cleared between passes.

    Methodology (round 6): the caller gives each factor a FRESH
    SparkSession and each stage reports the min over two passes, so
    one slow pass does not stand for the stage. The r5 probe ran all
    factors and stages through one session; by the time the 64×
    simhash stage ran, accumulated JVM state (shuffle files, GC
    pressure from the 113 s minhash stage just before it) had doubled
    its reading (77.6 s in-probe vs 32–39 s fresh-session, a
    controlled A/B this round that also ruled out driver heap: 8 g
    and 24 g measure the same). Slopes compare plans, so the probe
    must not measure session history.
    """
    merged: dict[str, float] = {}
    for _rep in range(2):
        t = _pass(spark, factor)
        for k, v in t.items():
            merged[k] = min(merged.get(k, v), v)
        spark.catalog.clearCache()
    return {"factor": factor, **{k: round(v, 2) for k, v in merged.items()}}


def _pass(spark, factor: int) -> dict[str, float]:
    ev_path = replicate(spark, "events", factor, "event_id")
    doc_path = replicate(spark, "documents", factor, "doc_id")
    emb_path = replicate(spark, "embeddings", factor, "vec_id")
    ev = spark.read.parquet(ev_path).withColumn(
        "ts", F.col("ts")
    )
    docs = spark.read.parquet(doc_path)
    emb = spark.read.parquet(emb_path)

    timings = {}

    if True:
        t0 = time.perf_counter()
        (
            timeseries.time_range_scan(ev, "2024-01-10 00:00:00", "2024-03-01 00:00:00")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .write.format("noop").mode("overwrite").save()
        )
        timings["scan_agg"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        windows.sessionize(ev, "user_id", "ts", gap_seconds=1800).groupBy(
            "user_id"
        ).agg(F.max("session_id")).write.format("noop").mode("overwrite").save()
        timings["sessionize"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        minhash.minhash_dedup_pairs(docs, threshold=0.5).write.format(
            "noop"
        ).mode("overwrite").save()
        timings["minhash_dedup"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from chronobase_spark.dedup import simhash as sh

        sh.simhash_near_pairs(docs).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["simhash_pairs"] = time.perf_counter() - t0
        # same replication caveat as minhash below: every doc is a
        # factor-way exact duplicate, so within-clique candidate pairs
        # grow ~quadratically with the factor — the slope overstates.

        t0 = time.perf_counter()
        from pyspark.sql import functions as _F

        from chronobase_spark.functions import text as _text

        spans = _F.expr(
            """CASE WHEN size(toks) >= 8
                    THEN transform(sequence(1, size(toks) - 7),
                                   i -> md5(array_join(slice(toks, i, 8), ' ')))
                    ELSE array() END"""
        )
        (
            docs.select("doc_id", _text.tokens(_F.col("text")).alias("toks"))
            .select("doc_id", _F.explode(spans).alias("span_hash"))
            .groupBy("span_hash")
            .agg(
                _F.countDistinct("doc_id").alias("n_docs"),
                _F.count(_F.lit(1)).alias("n_occ"),
            )
            .filter(_F.col("n_docs") >= 2)
            .write.format("noop").mode("overwrite").save()
        )
        timings["repeated_spans"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        probes = emb.filter(F.col("vec_id").isin([0, 1, 2]))
        similarity.topk_cosine(probes, emb, k=10).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["topk_cosine"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        text.tfidf_top_terms(docs, k=3).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["tfidf"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        timeseries.latest_per_key(ev, "user_id", "ts", "event_id").write.format(
            "noop"
        ).mode("overwrite").save()
        timings["latest_per_key"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        tok = docs.select(
            "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok")
        )
        (
            tok.groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_tok"))
            .write.format("noop").mode("overwrite").save()
        )
        timings["repetition"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        cents = similarity.label_centroids(emb)
        similarity.assign_nearest_centroid(
            emb.select("vec_id", "label", "embedding"), cents
        ).write.format("noop").mode("overwrite").save()
        timings["ivf_assign"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from chronobase_spark.dedup import ngram

        bench_docs = docs.filter(F.col("doc_id") % 100 == 0)
        ngram.contamination_overlap(
            docs.filter(F.col("doc_id") % 100 != 0), bench_docs
        ).write.format("noop").mode("overwrite").save()
        timings["decontam"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from chronobase_spark.dedup import cluster as cc

        pairs = (
            ngram.jaccard_pairs(docs, threshold=0.5, max_df=50)
            .select("doc_a", "doc_b")
            .persist()
        )
        cc.assign_clusters(docs, pairs).write.format("noop").mode(
            "overwrite"
        ).save()
        pairs.unpersist()
        timings["dup_cluster"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        from pyspark.sql import Window as _W

        sp = (
            docs.select("doc_id", _text.tokens(_F.col("text")).alias("toks"))
            .select("doc_id", _F.explode(spans).alias("span_hash"))
            .distinct()
        )
        (
            sp.withColumn(
                "canonical_doc", _F.min("doc_id").over(_W.partitionBy("span_hash"))
            )
            .groupBy("doc_id")
            .agg(
                _F.count(_F.lit(1)).alias("n_spans"),
                _F.sum(
                    _F.when(_F.col("canonical_doc") < _F.col("doc_id"), 1).otherwise(0)
                ).alias("n_removable"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["span_assign"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # quality_topq shape: histogram-based per-lang median cut (the
        # windows only ever see the |langs|x|scores| histogram)
        n_distinct = _F.size(
            _F.array_distinct(
                _F.filter(
                    _F.split(_F.trim(_F.lower(_F.col("text"))), " "),
                    lambda x: x != _F.lit(""),
                )
            )
        )
        scored = docs.select("lang", n_distinct.alias("score"))
        hist = scored.groupBy("lang", "score").agg(_F.count(_F.lit(1)).alias("n"))
        w_ge = (
            _W.partitionBy("lang")
            .orderBy(_F.col("score").desc())
            .rowsBetween(_W.unboundedPreceding, _W.currentRow)
        )
        cum = hist.select(
            "lang",
            "score",
            _F.sum("n").over(w_ge).alias("n_ge"),
            _F.sum("n").over(_W.partitionBy("lang")).alias("total"),
        )
        thr = (
            cum.filter(_F.col("n_ge") * 2 >= _F.col("total"))
            .groupBy("lang")
            .agg(_F.max("score").alias("thr"))
        )
        (
            scored.alias("s")
            .join(
                _F.broadcast(thr.alias("t")),
                (_F.col("s.lang") == _F.col("t.lang"))
                & (_F.col("s.score") >= _F.col("t.thr")),
            )
            .groupBy("s.lang")
            .agg(_F.count(_F.lit(1)).alias("n_kept"))
            .write.format("noop").mode("overwrite").save()
        )
        timings["quality_topq"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        timeseries.segmented_ewma(
            ev.select("user_id", "event_id", "ts", "value")
        ).write.format("noop").mode("overwrite").save()
        timings["ewma_segmented"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # pq_code_histogram shape: map-side subvector explode (×8) +
        # 64-row codebook broadcast + integer argmin shuffle
        (
            similarity.pq_assign(emb, m=8)
            .groupBy("subspace", "code")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("dist_u2").cast("bigint").alias("err_sum_u2"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["pq_histogram"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # ohlc_daily_rollup shape: hourly min/max(struct) bars chained
        # into daily bars — two pipelined partial-agg levels
        bucket = F.date_trunc("hour", F.col("ts"))
        hourly = (
            ev.groupBy(F.col("event_type"), bucket.alias("bucket_ts"))
            .agg(
                F.min(F.struct("ts", "event_id", "value")).alias("_o"),
                F.max(F.struct("ts", "event_id", "value")).alias("_c"),
                F.max("value").alias("high_v"),
                F.min("value").alias("low_v"),
                F.count(F.lit(1)).alias("n_events"),
            )
            .select(
                "event_type",
                "bucket_ts",
                F.col("_o.value").alias("open_v"),
                "high_v",
                "low_v",
                F.col("_c.value").alias("close_v"),
                "n_events",
            )
        )
        day = F.date_trunc("day", F.col("bucket_ts"))
        (
            hourly.groupBy(F.col("event_type"), day.alias("day_ts"))
            .agg(
                F.min(F.struct("bucket_ts", "open_v")).alias("_o"),
                F.max(F.struct("bucket_ts", "close_v")).alias("_c"),
                F.max("high_v").alias("high_v"),
                F.min("low_v").alias("low_v"),
                F.sum("n_events").alias("n_events"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["ohlc_daily"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # LTOB shape: bucket partial-aggs + broadcast neighbor summary
        # + struct argmax — replication grows only the per-bucket
        # point count, never the summary table
        timeseries.ltob_downsample(
            ev.select("event_type", "event_id", "ts", "value")
        ).write.format("noop").mode("overwrite").save()
        timings["ltob_downsample"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # Levenshtein canopy shape. Naive replication makes every
        # copy-set a (lang, prefix) CLIQUE of identical texts — f²/2
        # full O(n·m) DPs per doc, a replication artifact, not the
        # operator (real corpus growth adds new canopies, it does not
        # multiply every prefix f-fold). Perturb: tag each copy's text
        # with its copy index (recovered from the id shift), so
        # canopies keep their base-corpus size and the probe measures
        # the operator's own growth — linear in #canopies.
        from chronobase_spark.dedup import edit as _edit

        tagged = docs.withColumn(
            "text",
            F.concat(
                F.lit("cp"),
                (F.col("doc_id") / 10_000_000).cast("bigint").cast("string"),
                F.lit(" "),
                F.col("text"),
            ),
        )
        _edit.levenshtein_near_pairs(tagged).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["levenshtein_pairs"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # minhash on a DE-CLIQUED corpus: prefix every token with the
        # copy index, so replicas share ZERO shingles and every
        # copy-universe keeps only its own planted near-dups. The
        # plain minhash_dedup stage above replicates texts verbatim,
        # which makes each doc an f-way identical clique — f²/2 true
        # candidate pairs per doc, quadratic in the factor BY
        # CONSTRUCTION of the probe data, not of the plan. This stage
        # measures the operator against honest corpus growth (new
        # content, stable duplicate-group sizes — what 100 TB of crawl
        # actually looks like): candidate work grows linearly.
        tag = (F.col("doc_id") / 10_000_000).cast("bigint").cast("string")
        decliqued = docs.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(F.lit("c"), tag, F.lit("_"), t),
                ),
                " ",
            ),
        )
        minhash.minhash_dedup_pairs(decliqued, threshold=0.5).write.format(
            "noop"
        ).mode("overwrite").save()
        timings["minhash_declique"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # CMS shape: map-side explode(depth) + ONE partial-agged
        # groupBy into a <= depth*width counter table (state flat in
        # input size); estimation joins ~1% of keys against the tiny
        # broadcast counter table
        from chronobase_spark.functions import sketches as _sk

        counters = _sk.cms_build(ev, "user_id", depth=4, width=512)
        probes_cms = ev.filter(F.col("user_id") % 7 == 0).select(
            "user_id"
        ).distinct()
        _sk.cms_estimate(counters, probes_cms, "user_id").write.format(
            "noop"
        ).mode("overwrite").save()
        timings["cms_counts"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # BM25 shape: tfidf-family — explode + two partial aggs +
        # vocabulary broadcast + per-doc window
        text.bm25_top_terms(docs, k=3).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["bm25"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # PQ ADC search shape: assign (explode x m + codebook broadcast
        # + argmin shuffle) then the code->LUT broadcast join + one
        # partial-agged integer sum per vector + TakeOrdered — the LUT
        # is m*|codes| rows at every factor
        similarity.pq_adc_topk(emb, probe_id=0, m=8, k=10).write.format(
            "noop"
        ).mode("overwrite").save()
        timings["pq_adc"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # RRF shape: two corpus-linear scorers each reduced by a
        # distributed TakeOrderedAndProject to 50 rows before the
        # bounded global windows and the 50x50 fuse join
        from chronobase_spark.functions import retrieval as _ret

        _ret.rrf_hybrid_topk(
            docs, emb, query_terms=("spark", "vector", "customer"), probe_id=0
        ).write.format("noop").mode("overwrite").save()
        timings["rrf_hybrid"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # BPE training: ONE corpus-linear tokenize/groupBy pass, then 12
        # rounds on the Heaps'-bounded vocab. Verbatim replication keeps
        # the vocab IDENTICAL across factors (same words, higher freqs),
        # so the slope isolates the corpus pass — flat rounds are the
        # 100 TB claim (training cost is vocab-, not corpus-, bound).
        from chronobase_spark.functions import bpe as _bpe

        _bpe.bpe_merges(spark, docs, n_merges=12).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["bpe_train"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # Bigram LM scoring: corpus-linear gram explode feeding a
        # gram-TYPE-bounded LM table. Verbatim replication keeps the
        # gram vocabulary identical across factors, so the LM side is
        # constant-size and the slope isolates the doc-gram pass + the
        # gram-keyed shuffle_hash score join — the honest 100 TB cost.
        text.bigram_lm_scores(docs).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["bigram_lm"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # Holt smoothing: one bounded (user, day) fold. Replication
        # shifts event_id but keeps user_id, so (user, day) groups GROW
        # with the factor — this measures the fold under densifying
        # groups (the operator's contract assumes bounded per-key daily
        # density; real growth adds keys, not density).
        timeseries.holt_daily_smoothing(
            ev.select("user_id", "event_id", "ts", "value")
        ).write.format("noop").mode("overwrite").save()
        timings["holt_daily"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # Corpus-scaled SemDeDup: the adaptive quantizer is the claim
        # under test — active planes k grows with n so cell size stays
        # ~32 and pair work stays linear. DE-CLIQUED like minhash:
        # verbatim replicas share one cell at EVERY k (identical
        # vectors ⇒ identical signatures), an f²-pair artifact of the
        # probe data; rotating each copy's vector by its copy index
        # re-randomizes it against the fixed Gaussian planes, so
        # replication behaves like honest corpus growth. The rotation
        # space is the 64 positions of a dim-64 vector, so above 64
        # copies two replicas 64 apart would share a rotation and
        # re-clique — guard rather than silently reintroduce the f²
        # artifact (r9 advisor note).
        assert factor <= 64, (
            f"de-clique rotation covers <=64 copies; factor={factor} "
            "would re-clique replicas 64 apart (compose a second "
            "perturbation before probing beyond 64x)"
        )
        from chronobase_spark.dedup import embedding as _emb

        rot = (F.col("vec_id") / 10_000_000).cast("int") % 64
        rotated = emb.withColumn("rot", rot).selectExpr(
            "vec_id",
            "concat(slice(embedding, rot + 1, 64 - rot),"
            " slice(embedding, 1, rot)) AS embedding",
        )
        _emb.semantic_dedup_scaled(rotated).write.format("noop").mode(
            "overwrite"
        ).save()
        timings["semantic_dedup"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # PII scrub audit shape: map-only regexp count/replace over the
        # scan + ONE partial-agged groupBy to |sources| rows
        (
            docs.filter(F.col("text").isNotNull())
            .select(
                "source",
                text.email_count(F.col("text")).cast("bigint").alias("ne"),
                text.phone_count(F.col("text")).cast("bigint").alias("np"),
                F.length(text.redact_pii(F.col("text")))
                .cast("bigint")
                .alias("rc"),
            )
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("ne").alias("total_emails"),
                F.sum("np").alias("total_phones"),
                F.sum("rc").alias("redacted_chars"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["pii_stats"] = time.perf_counter() - t0

        # TPC-H fact-table shapes: replicate lineitem (order key
        # shifted), keep the dimensions at base size — honest fact
        # growth (a real warehouse's facts grow ~linearly while dims
        # saturate), so the dimension joins stay map-side and the
        # slope isolates the fact scan + partial-agged shuffles.
        li_path = replicate(spark, "lineitem", factor, "l_orderkey")
        li = spark.read.parquet(li_path)
        from chronobase_spark import catalog as _cat

        disc_price = F.expr(
            "CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
        )

        t0 = time.perf_counter()
        # Q9 shape: LIKE-filtered part + supplier→nation map joined
        # map-side onto the fact, |nation × year| aggregate
        pf = (
            _cat.table(spark, BASE_SF, "part")
            .filter(F.col("p_name").like("%gear%"))
            .select("p_partkey")
        )
        sn = (
            _cat.table(spark, BASE_SF, "supplier")
            .join(
                F.broadcast(
                    _cat.table(spark, BASE_SF, "nation").select(
                        "n_nationkey", "n_name"
                    )
                ),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey", "n_name")
        )
        (
            li.select(
                "l_partkey", "l_suppkey", "l_shipdate",
                "l_extendedprice", "l_discount",
            )
            .join(pf, F.col("l_partkey") == F.col("p_partkey"))
            .join(sn, F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(
                "n_name", F.year("l_shipdate").cast("bigint").alias("ship_year")
            )
            .agg(
                F.sum(disc_price).cast("string").alias("profit"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["tpch_q9_profit"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        # Q11 shape: fact → |parts| partial-agged aggregate → 1-row
        # grand total broadcast back for the exact-decimal threshold
        pv = (
            li.select("l_partkey", "l_extendedprice", "l_discount")
            .groupBy("l_partkey")
            .agg(
                F.sum(disc_price).alias("part_value"),
                F.count(F.lit(1)).alias("n_lines"),
            )
        )
        tot = pv.agg(
            F.sum("part_value").alias("total_value"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        (
            pv.crossJoin(F.broadcast(tot))
            .filter(
                F.col("part_value").cast("decimal(26,4)")
                * (F.col("n_parts") * 2).cast("decimal(11,0)")
                > F.lit(3).cast("decimal(1,0)")
                * F.col("total_value").cast("decimal(35,4)")
            )
            .write.format("noop").mode("overwrite").save()
        )
        timings["important_parts"] = time.perf_counter() - t0

    return timings


def skew_probe(spark, factor: int) -> dict:
    """Does AQE's skew-join optimization actually FIRE on a hot gram
    key in the bigram-LM score join? The LM docstrings lean on "AQE
    splits skewed keys" — this measures it instead of assuming.

    Corpus: ``factor × 50k`` synthetic docs, each "w{i} zzhot zzb
    w{i}x" — three gram TYPES per doc, ONE of them ("zzhot zzb")
    shared by EVERY doc. The per-doc TF collapse removes instance
    skew by design (repeated grams within a doc become one row), so
    the only remaining skew channel is many DOCS sharing a gram: the
    hot gram's shuffle partition carries n_docs rows while a median
    partition carries ~n_docs/16 — a deliberate ~16× Zipf violation.

    Thresholds are scaled to probe bytes (the defaults target 256 MB
    partitions; the question is WHETHER OptimizeSkewedJoin splits the
    hot partition in this exact join shape, not whether the probe can
    reach production bytes). Runs the identical query with skewJoin
    OFF then ON and reads the final adaptive plan for the skew
    markers; reports wall times, whether 'skew=true' appeared, and
    the final-stage partition counts (the ON-minus-OFF delta is the
    number of extra sub-partitions the hot key was split into)."""
    n_docs = factor * 50_000
    docs = (
        spark.range(n_docs)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.concat(F.lit("w"), F.col("doc_id")),
                F.lit("zzhot"),
                F.lit("zzb"),
                F.concat(F.lit("w"), F.col("doc_id"), F.lit("x")),
            ),
        )
    )
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
    )
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
    out = {"factor": factor, "n_docs": n_docs}
    for mode in ("off", "on"):
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if mode == "on" else "false",
        )
        res = text.bigram_lm_scores(docs)
        t0 = time.perf_counter()
        rows = res.collect()
        out[f"secs_{mode}"] = round(time.perf_counter() - t0, 2)
        plan = res._jdf.queryExecution().executedPlan().toString()
        out[f"skew_marks_{mode}"] = plan.count("skew=true")
        out[f"parts_{mode}"] = res.rdd.getNumPartitions()
        assert len(rows) == n_docs
    return out


# Round-10b targeted stages: the six operators added after the full
# r10 probe run (collocations, BPE fertility, arrival cross-corr,
# lag-k ACF, fixed-ref CUSUM, dim covariance). Driven through the
# REGISTERED query functions over a replicated {dir}/{table}.parquet
# layout, so probe and registry can never diverge. The LSH recall /
# triangle queries are deliberately absent: replication makes every
# doc a factor-way exact-dup clique, so their pair joins inherit the
# f² artifact the minhash verbatim column documents — their inner
# pipelines are already covered by the minhash/ngram stages.
R10B_STAGES = (
    "collocation_topk",
    "bpe_lang_fertility",
    "event_type_minute_corr",
    "value_autocorr_daily",
    "cusum_fixed_ref",
    "embedding_dim_cov_topk",
)


_TARGET_TABLES = (
    ("documents", "doc_id"),
    ("events", "event_id"),
    ("embeddings", "vec_id"),
)

# Round-10 session additions: CDC chunk dedup (map-only chunker — the
# linear-growth claim), the capped-probe hard-negative scan, the
# composed split-leakage audit (minhash banding + split joins), and the
# literal-bounded JL pair frame (expected FLAT: partition pruning
# should keep the probe scan constant as the corpus replicates).
R10C_STAGES = (
    "cdc_chunk_dedup",
    "hard_negative_mining",
    "split_leakage_report",
    "jl_distance_preservation",
    "label_balance_plan",
)
R10C_TABLES = (("documents", "doc_id"), ("embeddings", "vec_id"))


# Round-11: the composed pair-join queries the verbatim-replication
# probe could never measure (every replica was an f-way exact-dup
# clique => f² candidate pairs BY FIXTURE CONSTRUCTION, SCALING.md r10b
# note). The mutation fixture below replaces replication with honest
# corpus growth, so these four now get real 1x/16x/64x slopes.
R11_STAGES = (
    "minhash_lsh_recall",
    "dup_graph_triangles",
    "dup_graph_communities",
    "split_leakage_report",
)

# one-in-N docs get a near-dup twin; one-in-N tokens of a twin mutate
_MUT_DUP_MOD = 10
_MUT_TOK_MOD = 20

# --- phash raster-perturbation fixture (round 13) -------------------------
# The token-edit fixture above appends "zz" to mutated tokens — an
# INSERTION, which shifts every downstream raster byte and throws twin
# dHashes far apart; it measures phash wall growth but never stresses
# the chunk-LSH bucket distribution with actual NEAR (Hamming 0-3)
# twins. This fixture mutates at the CHARACTER level, length-preserving:
# universes remap every char pseudo-randomly per (universe, position,
# char) so cross-universe rasters are noise (no cross-universe near
# pairs), and every _PHASH_DUP_MOD-th doc gains _PHASH_TWINS twins that
# differ in ~1/_PHASH_SUB_MOD of characters — a few perturbed pixels,
# the adversarial many-near-twin-families shape for the band join.
_PHASH_DUP_MOD = 8
_PHASH_TWINS = 4
_PHASH_SUB_MOD = 256


def phash_mutated_documents_dir(spark, factor: int) -> str:
    """Write the raster-perturbation fixture for one factor and return
    its sf-dir. Only docs passing the phash raster gate are kept (the
    others never reach the band join in the registered query either)."""
    from chronobase_spark import catalog
    from chronobase_spark.dedup import phash

    d = SCRATCH / f"phash_mutated_x{factor}"
    dest = d / "documents.parquet"
    if dest.exists():
        return str(d)
    d.mkdir(parents=True, exist_ok=True)
    base = catalog.table(spark, BASE_SF, "documents").filter(
        F.col("text").isNotNull()
        & (F.length(F.encode("text", "UTF-8")) >= phash.MIN_PAYLOAD_BYTES)
    )
    shift = 10_000_000
    uni = base.withColumn(
        "_u", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    )
    # universe remap: printable char 33..126 per (u, position, char)
    remapped = F.expr(
        "transform(split(text, ''), (c, i) -> "
        "char(33 + pmod(xxhash64(_u, i, ascii(c)), 94)))"
    )
    orig = uni.select(
        (F.col("doc_id") + F.col("_u") * shift).alias("doc_id"),
        F.array_join(remapped, "").alias("text"),
        "lang",
        "source",
    )
    twins = []
    for t in range(1, _PHASH_TWINS + 1):
        perturbed = F.expr(
            f"transform(split(text, ''), (c, i) -> CASE WHEN "
            f"pmod(xxhash64(doc_id, _u, {t}, i), {_PHASH_SUB_MOD}) = 0 "
            f"THEN char(33 + pmod(xxhash64(_u, i, ascii(c), {t}), 94)) "
            f"ELSE char(33 + pmod(xxhash64(_u, i, ascii(c)), 94)) END)"
        )
        twins.append(
            uni.filter(F.col("doc_id") % _PHASH_DUP_MOD == 0).select(
                (
                    F.col("doc_id")
                    + F.col("_u") * shift
                    + shift // 2
                    # (t-1), NOT t: a t*shift//8 offset reaches exactly
                    # `shift` at t=4, colliding twin ids with the NEXT
                    # universe's originals (r13 review catch)
                    + (t - 1) * (shift // 8)
                ).alias("doc_id"),
                F.array_join(perturbed, "").alias("text"),
                "lang",
                "source",
            )
        )
    out = orig
    for tw in twins:
        out = out.unionAll(tw)
    out = out.withColumn("n_chars", F.length("text").cast("bigint"))
    out.repartition(32).write.mode("overwrite").parquet(str(dest))
    return str(d)


def run_phash_mutated(spark, factor: int) -> dict:
    """Min-of-2 fresh-cache wall of phash_near_pairs on the raster
    fixture, plus the band-bucket distribution stats the wall number
    alone can't evidence: bucket size = rows per (chunk_id, value)
    after the 4-way chunk explode — the join's fan-in."""
    from chronobase_spark import queries as q
    from chronobase_spark.functions import multimodal

    sf_dir = phash_mutated_documents_dir(spark, factor)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    sigs = multimodal.dhash_chunks(multimodal.to_ppm_payload(docs))
    chunked = sigs.selectExpr(
        "stack(4, 0, c0, 1, c1, 2, c2, 3, c3) AS (j, v)"
    )
    bstats = (
        chunked.groupBy("j", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
            F.avg("n").alias("mean_bucket"),
            F.expr("percentile_approx(n, 0.99)").alias("p99_bucket"),
        )
        .collect()[0]
    )
    n_pairs = None
    wall = None
    for _rep in range(2):
        t0 = time.perf_counter()
        q._REGISTRY["phash_near_pairs"][0](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        wall = dt if wall is None else min(wall, dt)
        spark.catalog.clearCache()
    n_pairs = q._REGISTRY["phash_near_pairs"][0](spark, sf_dir).count()
    # the image admission twin on the same raster fixture: same decode
    # and chunk-join axes, plus the md5 arriving/stored split and the
    # per-arrival verdict join (r15)
    adm_wall = None
    for _rep in range(2):
        t0 = time.perf_counter()
        q._REGISTRY["phash_admission_report"][0](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        adm_wall = dt if adm_wall is None else min(adm_wall, dt)
        spark.catalog.clearCache()
    adm = q._REGISTRY["phash_admission_report"][0](spark, sf_dir)
    n_admitted = adm.count()
    n_dup = adm.filter("dup_of_corpus").count()
    spark.catalog.clearCache()
    return {
        "factor": factor,
        "n_docs": n_docs,
        "n_pairs": n_pairs,
        "n_buckets": bstats["n_buckets"],
        "max_bucket": bstats["max_bucket"],
        "mean_bucket": round(float(bstats["mean_bucket"]), 2),
        "p99_bucket": bstats["p99_bucket"],
        "phash_near_pairs": round(wall, 2),
        "phash_admission_report": round(adm_wall, 2),
        "n_arrivals": n_admitted,
        "n_dup_verdicts": n_dup,
    }


def mutated_documents_dir(spark, factor: int) -> str:
    """Replication-FREE scale fixture: grow the corpus by MUTATION so
    the near-dup rate and dup-group size stay constant with the factor
    — what 100 TB of crawl actually looks like — instead of the f-way
    exact-dup cliques verbatim replication creates (f²/2 candidate
    pairs per doc, a fixture artifact the r10b probe had to exclude
    the composed pair queries for).

    Construction, all deterministic column algebra:

    * ``factor`` copy universes; every token is prefixed ``u{u}x`` (one
      alphanumeric token — survives the engine's punctuation-stripping
      tokenizer intact), so universes share ZERO shingles: growth adds
      new content, and each token's document frequency matches the
      base corpus (max_df pruning sees the same distribution at every
      factor).
    * inside each universe, every ``_MUT_DUP_MOD``-th doc gains ONE
      near-dup twin with ~1/``_MUT_TOK_MOD`` of tokens substituted
      (xxhash64-positioned, ~15% of 3-shingles changed ⇒ jaccard ≈
      0.74, solidly above the pipelines' 0.5 threshold) — a constant
      planted-dup rate with group size 2, plus the base corpus' own
      natural dups once per universe.

    Total rows = factor × n_base × (1 + 1/_MUT_DUP_MOD); true pair
    count grows LINEARLY in the factor. Written once per factor under
    .scratch/ in the {dir}/documents.parquet layout the registered
    query contract reads."""
    from chronobase_spark import catalog

    d = SCRATCH / f"mutated_x{factor}"
    dest = d / "documents.parquet"
    if dest.exists():
        return str(d)
    d.mkdir(parents=True, exist_ok=True)
    base = catalog.table(spark, BASE_SF, "documents").filter(
        F.col("text").isNotNull()
    )
    shift = 10_000_000
    uni = base.withColumn(
        "_u", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    )
    tag = F.concat(F.lit("u"), F.col("_u").cast("string"), F.lit("x"))
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    tagged = F.transform(toks, lambda t: F.concat(tag, t))
    orig = uni.select(
        (F.col("doc_id") + F.col("_u") * shift).alias("doc_id"),
        F.array_join(tagged, " ").alias("text"),
        "lang",
        "source",
    )
    mutated = F.transform(
        tagged,
        lambda t, i: F.when(
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("_u"), i), _MUT_TOK_MOD)
            == 0,
            F.concat(t, F.lit("zz")),
        ).otherwise(t),
    )
    twins = uni.filter(F.col("doc_id") % _MUT_DUP_MOD == 0).select(
        (F.col("doc_id") + F.col("_u") * shift + shift // 2).alias("doc_id"),
        F.array_join(mutated, " ").alias("text"),
        "lang",
        "source",
    )
    out = orig.unionAll(twins).withColumn(
        "n_chars", F.length("text").cast("bigint")
    )
    out.repartition(32).write.mode("overwrite").parquet(str(dest))
    return str(d)


def mutated_embeddings_into(spark, factor: int, sf_dir: str) -> None:
    """Companion embeddings fixture for the COMPOSED pipeline probe:
    pretrain_pipeline_report's semantic stage reads {dir}/embeddings,
    which the documents-only mutation fixture lacked. Construction
    mirrors mutated_documents_dir: factor universes with vec_id shifted
    like doc_id, plus a near-dup embedding for every twin doc.

    Each universe applies a per-universe dimension ROTATION (cyclic
    shift by u·7 mod d — orthogonal, so all norms and pairwise dots
    within a universe are preserved EXACTLY and the near-dup structure
    the probe measures is the base corpus', repeated), while
    cross-universe vectors decorrelate and spread across LSH cells.
    Verbatim replication would stack `factor` IDENTICAL points that no
    hyperplane can separate — cells of size ≥ factor and a quadratic
    within-cell pass as a FIXTURE artifact; a shared additive offset
    (the first draft) is worse: ±2/dim dominates the base geometry, so
    a universe's vectors go near-parallel and pile into ONE cell
    (measured 89 s at factor 1 vs ~3 s for the honest fixture). Twin
    vectors jitter each rotated dim by ±0.02 — inside the min_cosine
    gate, so semantic load grows linearly like the planted text
    twins."""
    from chronobase_spark import catalog

    dest = Path(sf_dir) / "embeddings.parquet"
    if dest.exists():
        return
    base = catalog.table(spark, BASE_SF, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    shift = 10_000_000
    uni = base.withColumn(
        "_u", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    )
    d = F.size(F.col("embedding"))
    rotated = F.transform(
        F.col("embedding"),
        lambda x, i: F.get(
            F.col("embedding"), F.pmod(i + F.col("_u") * 7, d)
        ),
    )
    orig = uni.select(
        (F.col("vec_id") + F.col("_u") * shift).alias("vec_id"),
        rotated.alias("embedding"),
        "label",
    )
    jittered = F.transform(
        rotated,
        lambda x, i: (
            x.cast("double")
            + (
                F.pmod(F.xxhash64(F.col("vec_id"), F.col("_u"), i), F.lit(41))
                .cast("double")
                - 20.0
            )
            / 1000.0
        ).cast("float"),
    )
    twins = uni.filter(F.col("vec_id") % _MUT_DUP_MOD == 0).select(
        (F.col("vec_id") + F.col("_u") * shift + shift // 2).alias("vec_id"),
        jittered.alias("embedding"),
        "label",
    )
    orig.unionAll(twins).repartition(32).write.mode("overwrite").parquet(
        str(dest)
    )


def run_r14_composed(spark, factor: int) -> dict:
    """The composed pretrain_pipeline_report at one mutation factor,
    WITH per-stage attribution (r13 verdict task #4): the query's four
    stage subplans — exact canonical map, scaled semantic dedup, span
    stats, token features — timed standalone next to the composition,
    so a super-linear composed reading decomposes on the spot instead
    of demanding a second probe run. Min-of-2 fresh passes, cache
    cleared between (run_factor methodology)."""
    from chronobase_spark import catalog
    from chronobase_spark import queries as q
    from chronobase_spark.dedup import embedding as emb_dedup
    from chronobase_spark.dedup import exact as exact_dedup
    from pyspark.sql import Window

    sf_dir = mutated_documents_dir(spark, factor)
    mutated_embeddings_into(spark, factor, sf_dir)
    docs = catalog.table(spark, sf_dir, "documents")
    embs = catalog.table(spark, sf_dir, "embeddings")
    n_docs = docs.count()

    def _span_stats():
        sp = (
            docs.select(
                "doc_id", text.tokens(F.col("text")).alias("toks")
            )
            .select(
                "doc_id",
                F.explode(text.span_hashes("toks", q._SPAN_W)).alias(
                    "span_hash"
                ),
            )
            .distinct()
        )
        return (
            sp.withColumn(
                "canonical_doc",
                F.min("doc_id").over(Window.partitionBy("span_hash")),
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_spans"),
                F.sum(
                    F.when(
                        F.col("canonical_doc") < F.col("doc_id"), 1
                    ).otherwise(0)
                ).alias("n_removable"),
            )
        )

    stages = {
        "composed": lambda: q._REGISTRY["pretrain_pipeline_report"][0](
            spark, sf_dir
        ),
        "exact_stage": lambda: exact_dedup.canonical_map(docs),
        "semantic_stage": lambda: emb_dedup.semantic_dedup_scaled(
            embs,
            target_cell_size=q._SEMDEDUP_CELL_SIZE,
            max_planes=q._SEMDEDUP_MAX_PLANES,
            min_cosine=q._SEMDEDUP_MIN_COSINE,
        ),
        "span_stage": _span_stats,
        "feats_stage": lambda: docs.select(
            "doc_id",
            "lang",
            F.size(text.tokens(F.col("text"))).alias("n_tokens"),
        ),
    }
    merged: dict[str, float] = {}
    for _rep in range(2):
        for name, build in stages.items():
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            merged[name] = min(merged.get(name, dt), dt)
        spark.catalog.clearCache()
    return {
        "factor": factor,
        "n_docs": n_docs,
        **{k: round(v, 2) for k, v in merged.items()},
    }


def _tagged_admit_src(spark, tmp_root: Path, tag: str) -> tuple[str, int]:
    """Write the minhash-admission arrival feed (base docs re-tagged
    into universe 0 + the far-future flush row) and return (src_dir,
    n_arrivals) — shared by the store-growth and bucketed-model
    probes so both drain the IDENTICAL arrivals."""
    from chronobase_spark import catalog

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
    arrivals = (
        catalog.table(spark, BASE_SF, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"),
            F.array_join(
                F.transform(toks, lambda t: F.concat(F.lit("u0x"), t)), " "
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")).alias(
                "ingest_ts"
            ),
        )
    )
    n_arrivals = arrivals.count()
    # far-future flush row (semantic_admit_probe note): without it the
    # trailing ~watermark of arrivals never drains in append mode
    flush = spark.createDataFrame(
        [(999_999_999, "flush row", "xx", "synthetic", 9)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        F.timestamp_seconds(F.lit(1_700_000_000 + 10_000_000_000)).alias(
            "ingest_ts"
        ),
    )
    src = tmp_root / f"admit_src_{tag}"
    arrivals.unionByName(flush).repartition(8).write.mode(
        "overwrite"
    ).parquet(str(src))
    return str(src), n_arrivals


def _flattened_admit_feed(
    spark, std_src: str, tmp_root: Path, tag: str, extra=None
) -> str:
    """Rewrite a ``_tagged_admit_src`` feed into the deterministic
    drain layout the replay-order lessons require (shared by the skew
    and containment probes — r16 review: the third hand-rolled copy of
    a trap-sensitive pattern is how the traps come back): every
    non-flush arrival flattened onto ONE event-time instant in 8
    same-mtime files, then the flush row appended as its OWN
    later-mtime file so the file source gives it its own FINAL trigger
    — an all-in-one-trigger drain never re-fires after the watermark
    advance and emits nothing, and a mid-feed flush fast-forwards the
    watermark and lateness-drops everything after it. ``extra``
    optionally unions additional arrival rows (must carry the feed
    schema incl. ingest_ts) before the flatten."""
    src = tmp_root / f"admit_feed_{tag}"
    feed = spark.read.parquet(std_src).filter(F.col("doc_id") != 999_999_999)
    if extra is not None:
        feed = feed.unionByName(extra)
    (
        feed.withColumn("ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000)))
        .repartition(8)
        .write.mode("overwrite")
        .parquet(str(src))
    )
    time.sleep(1.1)
    spark.read.parquet(std_src).filter(
        F.col("doc_id") == 999_999_999
    ).coalesce(1).write.mode("append").parquet(str(src))
    return str(src)


def _drain_minhash_admit(
    spark, bands, sh, src: str, tmp_root: Path, tag: str, max_files: int = 4
) -> tuple[float, int]:
    """availableNow drain of minhash_admit_stage against the given
    frozen model tables; returns (drain_s, n_dup_verdicts)."""
    from chronobase_spark.streaming import docs as docstream

    sink = tmp_root / f"admit_sink_{tag}"
    ckpt = tmp_root / f"admit_ckpt_{tag}"
    t0 = time.perf_counter()
    qs = (
        docstream.minhash_admit_stage(
            docstream.read_document_stream(spark, src, max_files=max_files),
            bands,
            sh,
        )
        .writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qs.awaitTermination(3600)
    drain_s = time.perf_counter() - t0
    n_dup = spark.read.parquet(str(sink)).filter("dup_of_corpus").count()
    return drain_s, n_dup


def containment_admit_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Store-growth probe for the partial-copy containment admission
    member (streaming/docs.containment_admit_stage): arrivals FIXED
    (the tagged universe-0 re-fetch feed — every arrival shares ALL its
    shingles with its stored copy, so every arrival must verdict
    contained at 1.0 and the exact counting path provably runs), the
    frozen posting-list store grown by the mutation fixture, the SAME
    drain run under (a) the persisted model (containment_model) and
    (b) the bucketed-on-[sh] model (containment_model_bucketed). The
    static side is |store| pruned posting rows — the minhash-admit
    scaling axis with a shingle-keyed join instead of a band-keyed
    one; max_df pruning holds per-shingle fan-out at the planted-dup
    width regardless of factor (universes share zero shingles by
    construction). Contained counts must agree across forms AND equal
    n_arrivals (every arrival is a re-fetch — a deflated count means
    the drain lateness-dropped rows, not that the verify got cheap)."""
    from chronobase_spark.streaming import docs as docstream

    sf_dir = mutated_documents_dir(spark, factor)
    frozen = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_frozen = frozen.count()
    std_src, n_arrivals = _tagged_admit_src(spark, tmp_root, f"cont_x{factor}")
    src = _flattened_admit_feed(spark, std_src, tmp_root, f"cont_x{factor}")
    # the contained == n_arrivals invariant assumes every arrival
    # carries shingles (≥3 tokens); make it explicit so a fixture
    # refresh with a short doc fails for the REAL reason (r16 review)
    from chronobase_spark.dedup.ngram import shingles as _sh_expr

    n_shingled = (
        spark.read.parquet(src)
        .filter(F.col("doc_id") != 999_999_999)
        .filter(F.size(_sh_expr(F.col("text"))) > 0)
        .count()
    )
    assert n_shingled == n_arrivals, (
        f"fixture drift: {n_arrivals - n_shingled} arrivals carry no "
        "shingles and would verdict not-contained by contract"
    )

    def drain(postings, tag: str) -> tuple[float, int]:
        sink = tmp_root / f"cont_sink_{tag}"
        ckpt = tmp_root / f"cont_ckpt_{tag}"
        t0 = time.perf_counter()
        qs = (
            docstream.containment_admit_stage(
                docstream.read_document_stream(spark, str(src), max_files=8),
                postings,
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qs.awaitTermination(3600)
        dt = time.perf_counter() - t0
        n_contained = (
            docstream.finalize_containment(spark.read.parquet(str(sink)))
            .filter("contained")
            .count()
        )
        return dt, n_contained

    out: dict = {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_arrivals": n_arrivals,
    }
    t0 = time.perf_counter()
    postings_m = ngram.containment_model(frozen)
    out["n_postings"] = postings_m.count()
    out["mem_model_s"] = round(time.perf_counter() - t0, 2)
    dt, n = drain(postings_m, f"mem_x{factor}")
    out["mem_drain_s"], out["mem_contained"] = round(dt, 2), n
    postings_m.unpersist()

    t0 = time.perf_counter()
    postings_b = ngram.containment_model_bucketed(
        frozen, table_name=f"cont_model_x{factor}"
    )
    out["bucket_model_s"] = round(time.perf_counter() - t0, 2)
    dt, n = drain(postings_b, f"bkt_x{factor}")
    out["bucket_drain_s"], out["bucket_contained"] = round(dt, 2), n
    spark.sql(f"DROP TABLE IF EXISTS cont_model_x{factor}")
    return out


_SKEW_CLIQUE_W = 1024
_SKEW_HOT_ARRIVALS = 128


def minhash_admit_skew_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Adversarial hot-band probe for the BUCKETED admission model
    (r15 verdict #5): bucketing pins each (band_id, band_val) key to
    ONE bucket file, and stateful streaming disables AQE, so no
    runtime skew-split exists on either path — does a hot band
    therefore serialize the bucketed drain worse than the persisted
    model under the SAME skew?

    Fixture: the mutation store at ``factor`` plus an injected
    ``_SKEW_CLIQUE_W``-wide VERBATIM clique (one universe-0 doc's
    tagged text cloned with distinct ids — identical text ⇒ identical
    16 lanes ⇒ all 4 band keys shared by every member: the hottest
    possible band distribution, far beyond the pair finders' natural
    hot buckets). Arrivals: the standard tagged feed plus
    ``_SKEW_HOT_ARRIVALS`` re-fetches of the clique text — each hot
    arrival band-matches every clique member, so the band join emits
    hot_arrivals × clique_w × 4 rows through the hot keys and every
    one pays the exact-Jaccard verify. Event times are flattened onto
    one instant and the flush row appended as its own later-mtime file
    (the trigger-probe replay-order lessons), drained in two triggers
    (max_files=8: the 8 arrival files, then the flush file — the flush
    MUST land in its own later trigger: a single all-in-one batch never
    re-fires after the watermark advance, so nothing would emit).

    Both forms drain the SAME feed against the SAME store; dup
    verdict counts must agree. The structural expectation to check
    against the numbers: the band join's hot-key output lands in one
    task either way (hash partition vs bucket), but the verify
    redistributes on ``cand`` — clique_w DISTINCT candidates — so the
    expensive intersect work re-parallelizes on both paths; if the
    bucketed wall tracks the persisted wall, bucket-pinning is no
    worse than hash-pinning and no salting mitigation is needed."""
    sf_dir = mutated_documents_dir(spark, factor)
    base_store = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # hot clique: one mid-length universe-0 doc, cloned verbatim
    seed = (
        base_store.filter(
            (F.col("doc_id") < 10_000_000)  # universe 0 originals
            & (F.size(F.split("text", " ")) >= 30)
        )
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    clones = spark.range(_SKEW_CLIQUE_W).select(
        (F.lit(800_000_000) + F.col("id")).alias("doc_id"),
        F.lit(seed["text"]).alias("text"),
        F.lit(seed["lang"]).alias("lang"),
        F.lit(seed["source"]).alias("source"),
        F.lit(len(seed["text"])).cast("bigint").alias("n_chars"),
    )
    store = base_store.unionByName(clones)
    n_frozen = store.count()

    # arrivals: standard tagged feed + hot re-fetches, flattened onto
    # one event-time instant; flush appended as its own later file
    std_src, n_std = _tagged_admit_src(spark, tmp_root, f"skew_x{factor}")
    hot = spark.range(_SKEW_HOT_ARRIVALS).select(
        (F.lit(910_000_000) + F.col("id")).alias("doc_id"),
        F.lit(seed["text"]).alias("text"),
        F.lit(seed["lang"]).alias("lang"),
        F.lit(seed["source"]).alias("source"),
        F.lit(len(seed["text"])).cast("bigint").alias("n_chars"),
    )
    # shared helper writes to its OWN directory — the first cut reused
    # _tagged_admit_src's name and overwriting a directory the feed is
    # lazily read from corrupted the write (caught live: 0 verdicts)
    src = _flattened_admit_feed(
        spark,
        std_src,
        tmp_root,
        f"skew_x{factor}",
        extra=hot.withColumn("ingest_ts", F.timestamp_seconds(F.lit(0))),
    )
    n_arrivals = n_std + _SKEW_HOT_ARRIVALS

    out: dict = {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_arrivals": n_arrivals,
        "clique_w": _SKEW_CLIQUE_W,
        "hot_arrivals": _SKEW_HOT_ARRIVALS,
    }
    t0 = time.perf_counter()
    bands_m, sh_m = minhash.minhash_band_model(store)
    bands_m.count(), sh_m.count()
    out["mem_model_s"] = round(time.perf_counter() - t0, 2)
    drain_s, n_dup = _drain_minhash_admit(
        spark, bands_m, sh_m, str(src), tmp_root, f"skewmem_x{factor}",
        max_files=8,
    )
    out["mem_drain_s"], out["mem_dup"] = round(drain_s, 2), n_dup
    bands_m.unpersist()
    sh_m.unpersist()

    t0 = time.perf_counter()
    bands_b, sh_b = minhash.minhash_band_model_bucketed(
        store, table_prefix=f"skew_model_x{factor}"
    )
    out["bucket_model_s"] = round(time.perf_counter() - t0, 2)
    drain_s, n_dup = _drain_minhash_admit(
        spark, bands_b, sh_b, str(src), tmp_root, f"skewbkt_x{factor}",
        max_files=8,
    )
    out["bucket_drain_s"], out["bucket_dup"] = round(drain_s, 2), n_dup
    for t in (f"skew_model_x{factor}_bands", f"skew_model_x{factor}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return out


def minhash_admit_trigger_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Lever 2 of the admission stage (larger triggers amortize the
    per-trigger static-side scan), measured: the SAME arrivals written
    as 32 source files, drained against the SAME frozen store with
    maxFilesPerTrigger 1 / 8 / 32 — i.e. 32, 4, and 1 micro-batches.
    Every micro-batch re-reads the corpus-sized static model, so the
    expected shape is drain wall ≈ n_triggers × static-scan cost +
    arrival work; the ratio between the columns IS the lever. Store
    fixed at ``factor`` (use 16/64 to make the static scan visible)."""
    from chronobase_spark.streaming import docs as docstream

    sf_dir = mutated_documents_dir(spark, factor)
    frozen = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_frozen = frozen.count()
    bands, sh = minhash.minhash_band_model(frozen)
    bands.count(), sh.count()
    src, n_arrivals = _tagged_admit_src(spark, tmp_root, f"tr_x{factor}")
    # re-write the feed as 32 files so maxFilesPerTrigger controls the
    # trigger count exactly — and flatten every non-flush arrival onto
    # ONE event-time instant. The first cut kept the fixture's spread
    # timestamps (1.7e9 + doc_id, a 5000 s span) with randomly
    # partitioned files: under small triggers the watermark advanced
    # past unordered later files and DROPPED their rows as late data
    # (measured: 916/3007/5000 dup verdicts at mf 1/8/32 on the same
    # feed) — correct watermark semantics, but a replay-order confound
    # in a probe that must compare EQUAL work per column. (Operational
    # note this run pins: replaying history through small triggers
    # needs event-time-ordered files or a widened watermark.)
    src32 = tmp_root / f"admit_src32_x{factor}"
    feed = spark.read.parquet(src).withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_700_000_000))
    )
    feed.filter(F.col("doc_id") != 999_999_999).repartition(32).write.mode(
        "overwrite"
    ).parquet(str(src32))
    # the flush row goes in as its OWN later-mtime file so the file
    # source (oldest-first) processes it in the FINAL trigger — placed
    # mid-feed it would fast-forward the watermark and lateness-drop
    # every arrival after it
    time.sleep(1.1)
    spark.read.parquet(src).filter(
        F.col("doc_id") == 999_999_999
    ).coalesce(1).write.mode("append").parquet(str(src32))
    out: dict = {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_arrivals": n_arrivals,
    }
    for max_files in (1, 8, 32):
        sink = tmp_root / f"tr_sink_{max_files}_x{factor}"
        ckpt = tmp_root / f"tr_ckpt_{max_files}_x{factor}"
        t0 = time.perf_counter()
        q = (
            docstream.minhash_admit_stage(
                docstream.read_document_stream(
                    spark, str(src32), max_files=max_files
                ),
                bands,
                sh,
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(3600)
        dt = time.perf_counter() - t0
        n_dup = spark.read.parquet(str(sink)).filter("dup_of_corpus").count()
        out[f"drain_s_mf{max_files}"] = round(dt, 2)
        out[f"dup_mf{max_files}"] = n_dup
    bands.unpersist()
    sh.unpersist()
    return out


def minhash_admit_bucketed_probe(spark, factor: int, tmp_root: Path) -> dict:
    """The pre-bucketed frozen-model lever (minhash_admit_stage
    docstring, lever 3), measured: the SAME arrival drain against the
    store at ``factor``, under (a) the persisted in-memory model
    (minhash_band_model — the production default while the model fits
    executor memory) and (b) the BUCKETED on-disk model
    (minhash_band_model_bucketed — band table bucketed on the exact
    [band_id, band_val] join keys, shingles on [doc]), which removes
    the per-trigger EXCHANGE of the corpus-sized static side: only the
    micro-batch shuffles. At 100 TB (a) is impossible — the question
    this probe answers is what the storage-partitioned layout costs or
    saves relative to it at stores that still fit, and whether its
    wall stays flat as the store grows (the shuffle it removes is the
    store-proportional term). Model build times are reported
    separately (retrain cadence is a batch concern)."""
    sf_dir = mutated_documents_dir(spark, factor)
    frozen = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_frozen = frozen.count()
    src, n_arrivals = _tagged_admit_src(spark, tmp_root, f"bk_x{factor}")

    t0 = time.perf_counter()
    bands_m, sh_m = minhash.minhash_band_model(frozen)
    n_bands = bands_m.count()
    sh_m.count()
    mem_model_s = time.perf_counter() - t0
    mem_drain_s, mem_dup = _drain_minhash_admit(
        spark, bands_m, sh_m, src, tmp_root, f"mem_x{factor}"
    )
    bands_m.unpersist()
    sh_m.unpersist()

    t0 = time.perf_counter()
    bands_b, sh_b = minhash.minhash_band_model_bucketed(
        frozen, table_prefix=f"admit_model_x{factor}"
    )
    bucket_model_s = time.perf_counter() - t0
    bucket_drain_s, bucket_dup = _drain_minhash_admit(
        spark, bands_b, sh_b, src, tmp_root, f"bkt_x{factor}"
    )
    # drop the bucketed tables so the (gitignored) warehouse dir does
    # not accumulate orphan model files across probe sessions
    for t in (f"admit_model_x{factor}_bands", f"admit_model_x{factor}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    return {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_bands": n_bands,
        "n_arrivals": n_arrivals,
        "mem_model_s": round(mem_model_s, 2),
        "mem_drain_s": round(mem_drain_s, 2),
        "bucket_model_s": round(bucket_model_s, 2),
        "bucket_drain_s": round(bucket_drain_s, 2),
        "mem_dup": mem_dup,
        "bucket_dup": bucket_dup,
    }


def minhash_admit_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Does near-dup admission hold as the FROZEN STORE grows? —
    arrivals FIXED (the base sf0.1 documents), the frozen corpus the
    mutation fixture at ``factor`` (near-dup structure, no verbatim
    cliques), the stage's drain wall measured per store size. This
    isolates the stream-static scaling axis the intake decomposition
    (corpus == arrivals, one factor) cannot: the static band/shingle
    tables are re-read per micro-batch, so the expected shape is a
    linear-in-store floor from the static-side scan — the cost the
    stage docstring's three levers (deduped store, larger triggers,
    band-val pre-bucketing) exist to amortize. Model build runs in
    batch BEFORE the drain clock (retrain cadence is a batch
    concern)."""
    sf_dir = mutated_documents_dir(spark, factor)
    frozen = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_frozen = frozen.count()
    t0 = time.perf_counter()
    bands, sh = minhash.minhash_band_model(frozen)
    # materialize the model caches before the clock starts
    n_bands, n_sh = bands.count(), sh.count()
    model_s = time.perf_counter() - t0

    # arrivals = the base docs RE-TAGGED into universe 0 (the fixture
    # prefixes every token with u{u}x, so untagged text would match
    # nothing and the probe would measure pure non-match traffic —
    # caught on the first run: 0 dup verdicts at every factor). Tagged
    # arrivals are re-fetches of universe 0's stored content: each one
    # band-matches its stored copy and pays the exact-Jaccard verify,
    # so BOTH the static-scan axis and the match path are measured.
    src, n_arrivals = _tagged_admit_src(spark, tmp_root, f"x{factor}")
    drain_s, n_dup = _drain_minhash_admit(
        spark, bands, sh, src, tmp_root, f"x{factor}"
    )
    bands.unpersist()
    sh.unpersist()
    return {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_bands": n_bands,
        "n_shingle_rows": n_sh,
        "n_arrivals": n_arrivals,
        "model_s": round(model_s, 2),
        "drain_s": round(drain_s, 2),
        "arrivals_per_s": int(n_arrivals / drain_s),
        "n_dup_verdicts": n_dup,
    }


def semantic_admit_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Measure the semantic-admission scale lever: arrivals FIXED (the
    base embeddings, which universe 0 of the rotated fixture stores
    verbatim, so every arrival is a true re-fetch match), the frozen
    store grown by the rotation fixture, and the SAME drain run under
    BOTH models — the fixed 8-plane quantizer (cells constant, cell
    size grows with the store → per-arrival verify fan-out grows
    linearly) and the corpus-scaled one (plane count k derived from
    the store, cell size ≈ target constant). The wall gap between the
    two columns IS the measured case for semantic_cell_model_scaled."""
    from chronobase_spark import catalog
    from chronobase_spark.dedup import embedding as emb
    from chronobase_spark.streaming import docs as docstream

    sf_dir = mutated_documents_dir(spark, factor)
    mutated_embeddings_into(spark, factor, sf_dir)
    frozen = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_frozen = frozen.count()

    arrivals = (
        catalog.table(spark, BASE_SF, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            (F.col("vec_id") + 900_000_000).alias("vec_id"),
            "embedding",
            "label",
            F.timestamp_seconds(
                F.lit(1_700_000_000) + F.col("vec_id")
            ).alias("ingest_ts"),
        )
    )
    n_arrivals = arrivals.count()
    # far-future flush row: append-mode windows only emit once the
    # watermark passes them, so without this the trailing ~watermark
    # of arrivals never drains (first run: exactly the tail half of
    # the verdicts missing at every factor)
    flush = spark.createDataFrame(
        [(999_999_999,)], "vec_id long"
    ).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit(0).alias("label"),
        F.timestamp_seconds(F.lit(1_700_000_000 + 10_000_000_000)).alias(
            "ingest_ts"
        ),
    )
    src = tmp_root / f"sem_src_x{factor}"
    arrivals.unionByName(flush).repartition(8).write.mode(
        "overwrite"
    ).parquet(str(src))

    out: dict = {
        "factor": factor,
        "n_frozen": n_frozen,
        "n_arrivals": n_arrivals,
    }
    for mode in ("fixed", "scaled"):
        if mode == "fixed":
            cells, k = emb.semantic_cell_model(frozen, num_planes=8), 8
        else:
            cells, k = emb.semantic_cell_model_scaled(frozen)
        cells.count()  # materialize the model cache off the clock
        sink = tmp_root / f"sem_sink_{mode}_x{factor}"
        ckpt = tmp_root / f"sem_ckpt_{mode}_x{factor}"
        t0 = time.perf_counter()
        qs = (
            docstream.semantic_admit_stage(
                docstream.read_embedding_stream(spark, str(src)),
                cells,
                num_planes=k,
                min_cosine=0.9,
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qs.awaitTermination(3600)
        dt = time.perf_counter() - t0
        n_dup = (
            spark.read.parquet(str(sink)).filter("dup_of_corpus").count()
        )
        cells.unpersist()
        out[f"{mode}_k"] = k
        out[f"{mode}_drain_s"] = round(dt, 2)
        out[f"{mode}_dups"] = n_dup
    return out


def run_mutated(
    spark, factor: int, stages=R11_STAGES, with_embeddings: bool = False
) -> dict:
    """Min-of-2 fresh-session passes of the registered pair-join
    queries over the mutation fixture (run_factor methodology).
    ``with_embeddings`` adds the rotated-universe embeddings fixture
    (mutated_embeddings_into) for stages that read the embeddings
    table — pass ``emb=1`` on the --r11 CLI."""
    from chronobase_spark import queries as q

    sf_dir = mutated_documents_dir(spark, factor)
    if with_embeddings:
        mutated_embeddings_into(spark, factor, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    merged: dict[str, float] = {}
    for _rep in range(2):
        for name in stages:
            t0 = time.perf_counter()
            q._REGISTRY[name][0](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            merged[name] = min(merged.get(name, dt), dt)
        spark.catalog.clearCache()
    return {
        "factor": factor,
        "n_docs": n_docs,
        **{k: round(v, 2) for k, v in merged.items()},
    }


def ingest_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Write-path and streaming-ingest throughput at one replication
    factor (events ×factor ≈ factor·100k rows; documents ×factor) —
    the r11 refresh of SCALING.md's round-4 ingest table, now covering
    the ``.tab`` STREAMING source and the enriched document-intake
    pipeline end-to-end:

    * ``batch_write``   — canonical layout write (sortWithinPartitions
      (ts, key), date-partitioned zstd parquet) of the replicated
      events table; min-of-2 so the codegen/committer warm-up rep
      doesn't pollute the recorded floor.
    * ``tab_flush``     — write_tab_dir of the same rows as reference-
      layout tablets (range-partitioned on ts_ns, Python block packer).
    * ``tab_stream``    — readStream format("chronotab") over those
      tablets drained availableNow to parquet: the streaming-source
      decode path's honest rows/s.
    * ``doc_enrich``    — documents ×factor as JSON tablets →
      chronotab stream → pii scrub + template + datacard stages +
      content dedup (state store) → parquet: the full intake pipeline
      the batch queries consume downstream.

    Returns rows/s per stage (wall includes sink commit — ingest is a
    write's throughput, not a transformation's)."""
    from chronobase_spark import catalog
    from chronobase_spark.sources import tabfile
    from chronobase_spark.streaming import docs as docstream
    from chronobase_spark.streaming import maintenance

    ev_path = replicate(spark, "events", factor, "event_id")
    ev = spark.read.parquet(ev_path)
    n_events = ev.count()
    out: dict = {"factor": factor, "n_events": n_events}

    best = float("inf")
    for rep in range(2):
        dest = tmp_root / f"batch_write_x{factor}_r{rep}"
        t0 = time.perf_counter()
        maintenance.append(ev, str(dest))
        best = min(best, time.perf_counter() - t0)
        shutil.rmtree(dest, ignore_errors=True)
    out["batch_write_s"] = round(best, 2)
    out["batch_write_rows_s"] = int(n_events / best)

    payload = ev.select(
        F.col("event_id").cast("string").cast("binary").alias("key"),
        F.col("__ts_ns").alias("ts_ns")
        if "__ts_ns" in ev.columns
        else (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .cast("binary")
        .alias("data"),
    )
    tabdir = tmp_root / f"tablets_ev_x{factor}"
    t0 = time.perf_counter()
    n = tabfile.write_tab_dir(
        payload, str(tabdir), partitions=max(8, factor)
    )
    dt = time.perf_counter() - t0
    assert n == n_events
    out["tab_flush_s"] = round(dt, 2)
    out["tab_flush_rows_s"] = int(n_events / dt)

    tabfile.register_tab_source(spark)
    sink = tmp_root / f"tab_stream_sink_x{factor}"
    ckpt = tmp_root / f"tab_stream_ckpt_x{factor}"
    t0 = time.perf_counter()
    q = (
        spark.readStream.format("chronotab")
        .load(str(tabdir))
        .selectExpr("key", "ts")
        .writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    dt = time.perf_counter() - t0
    drained = spark.read.parquet(str(sink)).count()
    assert drained == n_events
    out["tab_stream_s"] = round(dt, 2)
    out["tab_stream_rows_s"] = int(n_events / dt)

    doc_path = replicate(spark, "documents", factor, "doc_id")
    docs = spark.read.parquet(doc_path)
    n_docs = docs.count()
    out["n_docs"] = n_docs
    doc_payload = docs.select(
        F.col("doc_id").cast("string").cast("binary").alias("key"),
        ((F.lit(1_700_000_000) + F.col("doc_id")) * F.lit(1_000_000_000)).alias(
            "ts_ns"
        ),
        F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
        .cast("binary")
        .alias("data"),
    )
    doc_tabdir = tmp_root / f"tablets_doc_x{factor}"
    tabfile.write_tab_dir(doc_payload, str(doc_tabdir), partitions=max(8, factor))
    json_schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    stream = (
        spark.readStream.format("chronotab")
        .load(str(doc_tabdir))
        .select(
            F.from_json(F.col("data").cast("string"), json_schema).alias("d"),
            F.col("ts").alias("ingest_ts"),
        )
        .select("d.*", "ingest_ts")
    )
    enriched = docstream.content_dedup(
        docstream.datacard_stage(
            docstream.template_stage(docstream.pii_scrub_stage(stream))
        )
    )
    sink2 = tmp_root / f"doc_enrich_sink_x{factor}"
    ckpt2 = tmp_root / f"doc_enrich_ckpt_x{factor}"
    t0 = time.perf_counter()
    q = (
        enriched.writeStream.format("parquet")
        .option("path", str(sink2))
        .option("checkpointLocation", str(ckpt2))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(3600)
    dt = time.perf_counter() - t0
    out["doc_enrich_s"] = round(dt, 2)
    out["doc_enrich_rows_s"] = int(n_docs / dt)
    return out


def intake_decomp_probe(spark, factor: int, tmp_root: Path) -> dict:
    """Per-stage decomposition of the enriched document intake — the
    one ingest number (6.7k docs/s, r11) that never had a stage
    breakdown. Builds the JSON doc tablets ONCE, then drains five
    incrementally-stacked availableNow pipelines to parquet:

      decode             chronotab source + from_json
      +pii               ... + pii_scrub_stage (map-only regex)
      +template          ... + template_stage (map-only md5 end-hashes)
      +datacard          ... + datacard_stage (map-only signal struct)
      +dedup             ... + content_dedup (watermark state store)
      +dsir              ... + dsir_admit_stage (frozen ratio join +
                         windowed per-doc sums; model trained in batch
                         BEFORE the drain clock starts)
      +minhash           ... + minhash_admit_stage (per-row md5 lane
                         folds + stream-static band/shingle joins
                         against the frozen corpus model + windowed
                         verdicts; band model built in batch BEFORE the
                         drain clock — the near-dup intake member).
                         Model over the RAW replicated corpus: every
                         arrival is a re-ingest dup matching a
                         factor-wide stored clique — the worst-case
                         match density a replication fixture creates
      +minhash_dd        same stage, model over the text-DEDUPED
                         corpus — the PRINCIPLED shape (a production
                         frozen store is already deduped, so each
                         arrival matches ~1 stored canonical)
      +topq              ... + topq_histogram_stage (windowed
                         per-(lang, score) histogram — the quantile
                         admission's stream half; the finalize is a
                         drain-time batch concern)

    The marginal docs/s drop between consecutive rows names the
    binding stage; wall includes sink commit (ingest is a write's
    throughput). Each drain uses a fresh sink+checkpoint so state
    never carries over.

    Observed analyzer asymmetry (r16): these stacks chain
    content_dedup (stateful) with admission stages that re-apply
    withWatermark — over the chronotab Python DataSource Spark accepts
    the redefinition and the stacks drain, while the SAME composition
    over a parquet file source raises "Redefining watermark is
    disallowed" (reproduced both ways, r15 HEAD and r16). File-source
    compositions must use the stages' watermark=None contract
    (tests/test_streaming.py composed-intake test); these chronotab
    stacks measure COST and are kept in the accepted shape."""
    from chronobase_spark.sources import tabfile
    from chronobase_spark.streaming import docs as docstream

    doc_path = replicate(spark, "documents", factor, "doc_id")
    docs = spark.read.parquet(doc_path)
    n_docs = docs.count()
    doc_payload = docs.select(
        F.col("doc_id").cast("string").cast("binary").alias("key"),
        ((F.lit(1_700_000_000) + F.col("doc_id")) * F.lit(1_000_000_000)).alias(
            "ts_ns"
        ),
        F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
        .cast("binary")
        .alias("data"),
    )
    doc_tabdir = tmp_root / f"tablets_doc_x{factor}"
    tabfile.register_tab_source(spark)
    tabfile.write_tab_dir(doc_payload, str(doc_tabdir), partitions=max(8, factor))
    json_schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )

    def base_stream():
        return (
            spark.readStream.format("chronotab")
            .load(str(doc_tabdir))
            .select(
                F.from_json(F.col("data").cast("string"), json_schema).alias("d"),
                F.col("ts").alias("ingest_ts"),
            )
            .select("d.*", "ingest_ts")
        )

    # frozen models trained in batch BEFORE any drain clock starts
    # (the retrain cadence is a batch concern; intake only pays joins)
    _dsir_frozen = text.dsir_model(docs)
    _mh_bands, _mh_shingles = minhash.minhash_band_model(docs)
    _dd = docs.dropDuplicates(["text"])
    _mh_bands_dd, _mh_shingles_dd = minhash.minhash_band_model(_dd)
    # the production 100 TB shape: deduped store AND the bucketed
    # on-disk model (no per-trigger static exchange, nothing pinned in
    # executor memory) — the layout SCALING.md r15 measures standalone,
    # here composed under the full intake stack
    _mh_bands_bkt, _mh_shingles_bkt = minhash.minhash_band_model_bucketed(
        _dd, table_prefix=f"intake_bkt_x{factor}"
    )
    # benchmark decontamination model: universe-0 src0 docs stand in
    # for the eval suite (fixture-tagged, so collisions are real)
    from chronobase_spark.dedup import ngram as _ngram

    _bench_sh = _ngram.decontam_model(docs.filter(F.col("source") == "src0"))
    _bench_sh.count()
    # containment posting lists over the DEDUPED corpus (the principled
    # store, same reasoning as minhash_dd), materialized before the
    # drain clock
    _cont_postings = _ngram.containment_model(_dd)
    _cont_postings.count()
    pipelines = [
        ("decode", lambda s: s),
        ("pii", docstream.pii_scrub_stage),
        ("template", lambda s: docstream.template_stage(docstream.pii_scrub_stage(s))),
        (
            "datacard",
            lambda s: docstream.datacard_stage(
                docstream.template_stage(docstream.pii_scrub_stage(s))
            ),
        ),
        (
            "dedup",
            lambda s: docstream.content_dedup(
                docstream.datacard_stage(
                    docstream.template_stage(docstream.pii_scrub_stage(s))
                )
            ),
        ),
        (
            "dsir",
            lambda s: docstream.dsir_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _dsir_frozen[0],
                _dsir_frozen[1],
                _dsir_frozen[2],
            ),
        ),
        (
            "minhash",
            lambda s: docstream.minhash_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _mh_bands,
                _mh_shingles,
            ),
        ),
        (
            "minhash_dd",
            lambda s: docstream.minhash_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _mh_bands_dd,
                _mh_shingles_dd,
            ),
        ),
        (
            "minhash_dd_bkt",
            lambda s: docstream.minhash_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _mh_bands_bkt,
                _mh_shingles_bkt,
            ),
        ),
        (
            "topq",
            lambda s: docstream.topq_histogram_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                )
            ),
        ),
        (
            "decontam",
            lambda s: docstream.decontam_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _bench_sh,
            ),
        ),
        (
            "containment",
            lambda s: docstream.containment_admit_stage(
                docstream.content_dedup(
                    docstream.datacard_stage(
                        docstream.template_stage(docstream.pii_scrub_stage(s))
                    )
                ),
                _cont_postings,
            ),
        ),
    ]
    out: dict = {"factor": factor, "n_docs": n_docs}
    for name, build in pipelines:
        sink = tmp_root / f"intake_{name}_sink"
        ckpt = tmp_root / f"intake_{name}_ckpt"
        t0 = time.perf_counter()
        q = (
            build(base_stream())
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(3600)
        dt = time.perf_counter() - t0
        out[f"{name}_s"] = round(dt, 2)
        out[f"{name}_rows_s"] = int(n_docs / dt)
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    for t in (f"intake_bkt_x{factor}_bands", f"intake_bkt_x{factor}_shingles"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    _bench_sh.unpersist()
    _cont_postings.unpersist()
    return out


def targeted_factor_dir(spark, factor: int, tables=_TARGET_TABLES) -> str:
    """{dir}/{table}.parquet layout over the cached replicas, so the
    registered (spark, sf_dir) query contract drives the probe."""
    d = SCRATCH / f"bytable_x{factor}"
    d.mkdir(parents=True, exist_ok=True)
    for table, id_col in tables:
        dest = d / f"{table}.parquet"
        if not dest.exists():
            os.symlink(replicate(spark, table, factor, id_col), dest)
    return str(d)


def run_targeted(spark, factor: int, stages=R10B_STAGES, tables=_TARGET_TABLES) -> dict:
    """Min-of-2 fresh-session passes over the given stages (same
    methodology as run_factor)."""
    from chronobase_spark import queries as q

    sf_dir = targeted_factor_dir(spark, factor, tables)
    merged: dict[str, float] = {}
    for _rep in range(2):
        for name in stages:
            t0 = time.perf_counter()
            q._REGISTRY[name][0](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            merged[name] = min(merged.get(name, dt), dt)
        spark.catalog.clearCache()
    return {"factor": factor, **{k: round(v, 2) for k, v in merged.items()}}


def main():
    if sys.argv[1:2] == ["--stages"]:
        # generic targeted mode: --stages name1,name2 [factors...]
        # (documents+events+embeddings replicas; registered-query contract)
        stages = tuple(sys.argv[2].split(","))
        factors = [int(a) for a in sys.argv[3:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"stage-probe-x{factor}", shuffle_partitions=32
            )
            rows.append(run_targeted(spark, factor, stages, _TARGET_TABLES))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for k in base:
            if k != "factor":
                print(
                    f"{k}: {last['factor']}x data -> "
                    f"{last[k] / max(base[k], 1e-9):.1f}x time"
                )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--phash-mut"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"phash-mutation-probe-x{factor}",
                shuffle_partitions=32,
            )
            rows.append(run_phash_mutated(spark, factor))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        print(
            f"phash_near_pairs: {last['factor']}x data -> "
            f"{last['phash_near_pairs'] / max(base['phash_near_pairs'], 1e-9):.1f}x time; "
            f"pairs {base['n_pairs']} -> {last['n_pairs']}; "
            f"max bucket {base['max_bucket']} -> {last['max_bucket']}"
        )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--r11"]:
        # optional: --r11 stages=name1,name2 factors...
        args = sys.argv[2:]
        stages = R11_STAGES
        if args and args[0].startswith("stages="):
            stages = tuple(args[0][len("stages="):].split(","))
            args = args[1:]
        with_emb = False
        if args and args[0] == "emb=1":
            with_emb = True
            args = args[1:]
        factors = [int(a) for a in args] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"r11-mutation-probe-x{factor}", shuffle_partitions=32
            )
            rows.append(run_mutated(spark, factor, stages, with_emb))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for k in base:
            if k not in ("factor", "n_docs"):
                print(
                    f"{k}: {last['factor']}x data -> "
                    f"{last[k] / max(base[k], 1e-9):.1f}x time"
                )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--ingest"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        for factor in factors:
            spark = get_spark(
                app_name=f"ingest-probe-x{factor}", shuffle_partitions=32
            )
            tmp_root = SCRATCH / f"ingest_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            print(f"ingest {ingest_probe(spark, factor, tmp_root)}", flush=True)
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--intake-decomp"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        for factor in factors:
            spark = get_spark(
                app_name=f"intake-decomp-x{factor}", shuffle_partitions=32
            )
            tmp_root = SCRATCH / f"intake_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            print(
                f"intake_decomp {intake_decomp_probe(spark, factor, tmp_root)}",
                flush=True,
            )
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--semantic-admit"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"semantic-admit-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"sem_admit_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            rows.append(semantic_admit_probe(spark, factor, tmp_root))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for mode in ("fixed", "scaled"):
            print(
                f"semantic_admit {mode}: {last['factor']}x store -> "
                f"{last[f'{mode}_drain_s'] / max(base[f'{mode}_drain_s'], 1e-9):.1f}x wall"
            )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--admit-triggers"]:
        factors = [int(a) for a in sys.argv[2:]] or [16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        for factor in factors:
            spark = get_spark(
                app_name=f"admit-trigger-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"admit_tr_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            print(
                f"factor {factor}: "
                f"{minhash_admit_trigger_probe(spark, factor, tmp_root)}",
                flush=True,
            )
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--admit-bucketed"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"admit-bucketed-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"admit_bk_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            rows.append(minhash_admit_bucketed_probe(spark, factor, tmp_root))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for mode in ("mem", "bucket"):
            print(
                f"minhash_admit {mode}: {last['factor']}x store -> "
                f"{last[f'{mode}_drain_s'] / max(base[f'{mode}_drain_s'], 1e-9):.1f}x wall "
                f"({base[f'{mode}_drain_s']} -> {last[f'{mode}_drain_s']} s)"
            )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--containment-admit"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"containment-admit-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"cont_admit_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            rows.append(containment_admit_probe(spark, factor, tmp_root))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            assert rows[-1]["mem_contained"] == rows[-1]["bucket_contained"]
            # every arrival re-fetches stored content: a short count is
            # a lateness-dropped drain, not a cheaper verify
            assert rows[-1]["mem_contained"] == rows[-1]["n_arrivals"], rows[-1]
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for mode in ("mem", "bucket"):
            print(
                f"containment_admit {mode}: {last['factor']}x store -> "
                f"{last[f'{mode}_drain_s'] / max(base[f'{mode}_drain_s'], 1e-9):.1f}x wall "
                f"({base[f'{mode}_drain_s']} -> {last[f'{mode}_drain_s']} s)"
            )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--admit-skew"]:
        factors = [int(a) for a in sys.argv[2:]] or [64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        for factor in factors:
            spark = get_spark(
                app_name=f"admit-skew-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"admit_skew_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            row = minhash_admit_skew_probe(spark, factor, tmp_root)
            print(f"factor {factor}: {row}", flush=True)
            assert row["mem_dup"] == row["bucket_dup"], row
            print(
                f"skewed drain: persisted {row['mem_drain_s']} s vs "
                f"bucketed {row['bucket_drain_s']} s "
                f"({row['bucket_drain_s'] / max(row['mem_drain_s'], 1e-9):.2f}x)",
                flush=True,
            )
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--minhash-admit"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"minhash-admit-probe-x{factor}",
                shuffle_partitions=32,
            )
            tmp_root = SCRATCH / f"admit_x{factor}"
            tmp_root.mkdir(parents=True, exist_ok=True)
            rows.append(minhash_admit_probe(spark, factor, tmp_root))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            shutil.rmtree(tmp_root, ignore_errors=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        print(
            f"minhash_admit drain: {last['factor']}x store -> "
            f"{last['drain_s'] / max(base['drain_s'], 1e-9):.1f}x wall "
            f"({base['arrivals_per_s']} -> {last['arrivals_per_s']} docs/s)"
        )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--r14"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"r14-composed-probe-x{factor}",
                shuffle_partitions=32,
            )
            rows.append(run_r14_composed(spark, factor))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for k in base:
            if k not in ("factor", "n_docs"):
                print(
                    f"{k}: {last['factor']}x data -> "
                    f"{last[k] / max(base[k], 1e-9):.1f}x time"
                )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--r10c"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"r10c-probe-x{factor}", shuffle_partitions=32
            )
            rows.append(
                run_targeted(spark, factor, R10C_STAGES, R10C_TABLES)
            )
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for k in base:
            if k != "factor":
                print(
                    f"{k}: {last['factor']}x data -> "
                    f"{last[k] / max(base[k], 1e-9):.1f}x time"
                )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--r10b"]:
        factors = [int(a) for a in sys.argv[2:]] or [1, 16, 64]
        SCRATCH.mkdir(parents=True, exist_ok=True)
        rows = []
        for factor in factors:
            spark = get_spark(
                app_name=f"r10b-probe-x{factor}", shuffle_partitions=32
            )
            rows.append(run_targeted(spark, factor))
            print(f"factor {factor}: {rows[-1]}", flush=True)
            spark.stop()
        base, last = rows[0], rows[-1]
        for k in base:
            if k != "factor":
                print(
                    f"{k}: {last['factor']}x data -> "
                    f"{last[k] / max(base[k], 1e-9):.1f}x time"
                )
        shutil.rmtree(SCRATCH, ignore_errors=True)
        return
    if sys.argv[1:2] == ["--skew"]:
        factors = [int(a) for a in sys.argv[2:]] or [16, 64]
        for factor in factors:
            spark = get_spark(
                app_name=f"skew-probe-x{factor}", shuffle_partitions=32
            )
            print(f"skew {skew_probe(spark, factor)}", flush=True)
            spark.stop()
        return
    factors = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    SCRATCH.mkdir(parents=True, exist_ok=True)
    rows = []
    for factor in factors:
        # One fresh session per factor — see run_factor's methodology
        # note (accumulated JVM state polluted the r5 64× readings).
        spark = get_spark(app_name=f"scaling-probe-x{factor}", shuffle_partitions=32)
        rows.append(run_factor(spark, factor))
        print(f"factor {factor}: {rows[-1]}", flush=True)
        spark.stop()
    print("\n| factor | " + " | ".join(k for k in rows[0] if k != "factor") + " |")
    print("|---" * (len(rows[0])) + "|")
    for r in rows:
        print(
            f"| {r['factor']}x | "
            + " | ".join(f"{r[k]:.2f}s" for k in r if k != "factor")
            + " |"
        )
    base = rows[0]
    last = rows[-1]
    for k in base:
        if k == "factor":
            continue
        ratio = last[k] / max(base[k], 1e-9)
        print(f"{k}: {last['factor']}x data -> {ratio:.1f}x time")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
