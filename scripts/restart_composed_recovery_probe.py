"""Restart recovery probe: a composed intake graph dies mid-stream and
resumes from its checkpoints in a fresh session, with every bucketed
admission model re-attached from its on-disk manifest, not rebuilt.

  Session A: build THREE bucketed model tables (minhash bands +
             shingles, containment postings; timed — the rebuild price
             a restart would otherwise pay); join a frozen arrival
             band sample against the bands; drain arrival batch 1
             through
               main chain (ONE query, TWO state stores):
                 signature_stage (stateless md5 band keys)
                 → content_dedup (dropDuplicatesWithinWatermark state)
                 → minhash_admit (windowed-agg state, watermark=None —
                   the composed-pipeline watermark contract) → sink A
               branch: containment_admit on the BUCKETED postings
                 → sink D
             each with its own checkpoint; stop() — catalog dies,
             checkpoints + sinks + model files + manifests survive.
  Session B: reattach_bucketed all three tables (timed; asserted
             absent from the fresh catalog first — and the attach-time
             manifest validation runs on each); each table's row count
             equals session A's; the frozen band sample joins to the
             same rows; both re-attached join sides plan shuffle-free
             (Bucketed: true, only the arriving side's Exchange);
             append batch 2 to the SAME source dir; resume BOTH
             checkpoints with availableNow.
  Verdict:   re-attach is DDL-priced (reattach_s < build_s); batch 2
             fully verdicted in both sinks; batch 1 not re-emitted
             (physical row-count convention — byte-identical
             re-emission cannot hide in set semantics); the content
             dedup state works after restart (exactly one survivor per
             same-content group, in BOTH batches); every survivor
             verdicts dup-of-stored in sink A; sink D's verdicts EQUAL
             the batch containment twin computed on the postings
             table.

A subprocess is the only way to get a genuinely fresh catalog:
newSession() shares the SharedState external catalog. Emits one JSON
line; tests/conftest.py runs it once per test session.

Usage:
    python scripts/restart_composed_recovery_probe.py [--cpus 4]
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_SMOKE  # noqa: E402  (the smoke corpus)

ROWS = 60
BUCKETS = 4
PREFIX = "probe_comp_model"
POSTINGS = "probe_comp_postings"
FLUSH_IDS = {999_999_901, 999_999_902}
DUP1, DUP2 = 999_000_001, 999_000_002  # within-batch content duplicates

# Batch-1 rows sit at T0; batch-1's flush pushes the watermark past
# T0's windows. Batch-2 rows must arrive ABOVE the checkpointed
# watermark or the resumed query would (correctly) late-drop them.
T0 = 1_700_000_000
FLUSH1 = T0 + 10_000_000
T1 = FLUSH1 + 10_000_000
FLUSH2 = T1 + 10_000_000

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _mk_arrivals(spark, docs_pd, ids, ts):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([r for r in docs_pd if r["doc_id"] in ids], _DOC_SCHEMA)
    return df.withColumn("ingest_ts", F.timestamp_seconds(F.lit(ts)))


def _flush_row(spark, doc_id, ts):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(doc_id, "flush row", "xx", "synthetic", 9)], _DOC_SCHEMA
    ).withColumn("ingest_ts", F.timestamp_seconds(F.lit(ts)))


def _drain_both(spark, src, paths, bands, sh, postings):
    """Start the main chain and the containment branch against the same
    source dir, each with its own checkpoint; drain availableNow."""
    from chronobase_spark.streaming import docs as docstream

    chain = docstream.minhash_admit_stage(
        docstream.content_dedup(
            docstream.signature_stage(
                docstream.read_document_stream(spark, src, max_files=8)
            )
        ),
        bands,
        sh,
        # content_dedup upstream defined the watermark; Spark forbids
        # redefining it between chained stateful operators — the
        # composed-pipeline contract (watermark=None + explicit window)
        watermark=None,
        window="10 minutes",
    )
    branch = docstream.containment_admit_stage(
        docstream.read_document_stream(spark, src, max_files=8), postings
    )
    queries = []
    for staged, (sink, ckpt) in ((chain, paths["a"]), (branch, paths["d"])):
        queries.append(
            staged.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    for q in queries:
        q.awaitTermination(600)


@contextlib.contextmanager
def _broadcast_off(spark):
    """Broadcast joins off, so the bucketed layout is what a join
    exercises on a corpus this small."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _band_join(bands, arr_bands):
    """The admission-shaped band-key equi-join of the frozen arrival
    sample. Returns (sorted (doc, cand) rows, executed plan string)."""
    from pyspark.sql import functions as F

    j = arr_bands.join(
        bands.select(F.col("doc").alias("cand"), "band_id", "band_val"),
        ["band_id", "band_val"],
        "left",
    ).select("doc", "cand")
    plan = j._jdf.queryExecution().executedPlan().toString()
    return sorted((r["doc"], r["cand"]) for r in j.collect()), plan


def _plan_pin(plan, table, key):
    """(every scan of ``table`` is Bucketed: true, number of ``key``
    hash Exchanges) — the re-attached static side must not shuffle, so
    the only Exchange on ``key`` is the arriving side's."""
    lines = plan.splitlines()
    scans = [ln for ln in lines if table in ln]
    bucketed = bool(scans) and all("Bucketed: true" in ln for ln in scans)
    exchanges = sum(
        1 for ln in lines if "Exchange hashpartitioning" in ln and f"{key}#" in ln
    )
    return bucketed, exchanges


def _content_groups(arrivals):
    """doc_id sets grouped by exact normalized-content fingerprint —
    the content_dedup state's own grouping, computed batch-side."""
    from pyspark.sql import functions as F

    from chronobase_spark.dedup.exact import normalize

    rows = arrivals.select(
        "doc_id", F.xxhash64(normalize(F.col("text"))).alias("fp")
    ).collect()
    groups: dict[int, set[int]] = {}
    for r in rows:
        groups.setdefault(r["fp"], set()).add(r["doc_id"])
    return list(groups.values())


def _containment_verdicts(sink_df, exclude_ids):
    from pyspark.sql import functions as F

    from chronobase_spark.streaming import docs as docstream

    return {
        r["doc_id"]: (r["contained"], r["host_id"], r["containment"])
        for r in docstream.finalize_containment(
            sink_df.filter(~F.col("doc_id").isin(*exclude_ids))
        ).collect()
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = args.cpus

    from pyspark.sql import functions as F

    from chronobase_spark import catalog, get_spark
    from chronobase_spark.dedup import minhash, ngram
    from chronobase_spark.sources import writers

    root = tempfile.mkdtemp(prefix="comp_recovery_")
    wh = f"{root}/wh"
    src = f"{root}/src"
    paths = {k: (f"{root}/sink_{k}", f"{root}/ckpt_{k}") for k in ("a", "d")}
    conf = {"spark.sql.warehouse.dir": wh}
    tables = (f"{PREFIX}_bands", f"{PREFIX}_shingles", POSTINGS)

    # ---- Session A ----
    spark = get_spark(app_name="comp-recovery-A", extra_conf=conf)
    docs = (
        catalog.table(spark, SF_SMOKE, "documents")
        .filter("text IS NOT NULL")
        .limit(ROWS)
    )
    frozen_rows = docs.collect()
    all_ids = [r["doc_id"] for r in frozen_rows]
    half = len(all_ids) // 2
    b1_ids, b2_ids = set(all_ids[:half]), set(all_ids[half:])

    t0 = time.perf_counter()
    bands, sh = minhash.minhash_band_model_bucketed(
        docs, table_prefix=PREFIX, buckets=BUCKETS
    )
    postings = ngram.containment_model_bucketed(
        docs, table_name=POSTINGS, buckets=BUCKETS
    )
    # saveAsTable materialized the models — stop the clock BEFORE the
    # counts so build_s and reattach_s each time only their own step
    build_s = time.perf_counter() - t0
    counts_a = [t.count() for t in (bands, sh, postings)]

    # freeze the arriving band sample across sessions
    arr_bands_pd = (
        minhash.md5_band_table(docs.limit(25))
        .select("doc", "band_id", "band_val")
        .toPandas()
    )
    with _broadcast_off(spark):
        join_a, _ = _band_join(bands, spark.createDataFrame(arr_bands_pd))

    # arrivals: refetches of stored content under shifted ids, plus one
    # same-content DUPLICATE arrival per batch (ids DUP1/DUP2 repeat the
    # text of each batch's lowest-id refetch) — the content_dedup state
    # must admit exactly one member of each pair, in BOTH sessions
    arr_pd = [
        {
            "doc_id": r["doc_id"] + 900_000_000,
            "text": r["text"],
            "lang": r["lang"],
            "source": r["source"],
            "n_chars": r["n_chars"],
        }
        for r in frozen_rows
    ]
    by_id = {r["doc_id"]: r for r in frozen_rows}
    for dup_id, ids in ((DUP1, b1_ids), (DUP2, b2_ids)):
        seed = by_id[min(ids)]
        arr_pd.append(
            {
                "doc_id": dup_id,
                "text": seed["text"],
                "lang": seed["lang"],
                "source": seed["source"],
                "n_chars": seed["n_chars"],
            }
        )

    b1 = _mk_arrivals(
        spark, arr_pd, {i + 900_000_000 for i in b1_ids} | {DUP1}, T0
    )
    b1.unionByName(_flush_row(spark, 999_999_901, FLUSH1)).coalesce(2).write.parquet(
        src
    )
    _drain_both(spark, src, paths, bands, sh, postings)

    sink_a_after = {
        (r["doc_id"], r["dup_of_corpus"], r["canonical_id"])
        for r in spark.read.parquet(paths["a"][0]).collect()
    }
    ct_b1 = _containment_verdicts(spark.read.parquet(paths["d"][0]), FLUSH_IDS)
    ct_b1_expected = _containment_verdicts(
        ngram.containment_against(b1, spark.table(POSTINGS)), FLUSH_IDS
    )
    b1_groups = _content_groups(b1)
    spark.stop()

    # ---- Session B: fresh catalog, SAME checkpoints ----
    spark = get_spark(app_name="comp-recovery-B", extra_conf=conf)
    fresh_catalog = not any(spark.catalog.tableExists(t) for t in tables)
    t0 = time.perf_counter()
    bands, sh, postings = (writers.reattach_bucketed(spark, t) for t in tables)
    reattach_s = time.perf_counter() - t0
    counts_b = [t.count() for t in (bands, sh, postings)]

    # plan pins: the RE-ATTACHED band and postings tables still feed
    # their admission joins shuffle-free
    with _broadcast_off(spark):
        join_b, band_plan = _band_join(bands, spark.createDataFrame(arr_bands_pd))
        probe_arr = spark.createDataFrame(arr_pd[:10], _DOC_SCHEMA).select(
            "doc_id", F.explode(ngram.shingles(F.col("text"))).alias("sh")
        )
        j = probe_arr.join(
            postings.select(F.col("doc").alias("cand"), "sh"), "sh", "left"
        )
        sh_plan = j._jdf.queryExecution().executedPlan().toString()
    band_bucketed, band_exchanges = _plan_pin(band_plan, tables[0], "band_val")
    plan_bucketed, sh_exchanges = _plan_pin(sh_plan, POSTINGS, "sh")

    b2 = _mk_arrivals(
        spark, arr_pd, {i + 900_000_000 for i in b2_ids} | {DUP2}, T1
    )
    time.sleep(1.1)
    b2.unionByName(_flush_row(spark, 999_999_902, FLUSH2)).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    _drain_both(spark, src, paths, bands, sh, postings)

    final_a_rows = spark.read.parquet(paths["a"][0]).collect()
    final_a = {
        (r["doc_id"], r["dup_of_corpus"], r["canonical_id"]) for r in final_a_rows
    }
    ct_all = _containment_verdicts(spark.read.parquet(paths["d"][0]), FLUSH_IDS)
    ct_b2_expected = _containment_verdicts(
        ngram.containment_against(b2, postings), FLUSH_IDS
    )
    b2_groups = _content_groups(b2)
    spark.stop()

    # ---- verdicts ----
    def _one_survivor_each(groups, verdict_ids):
        return all(len(g & verdict_ids) == 1 for g in groups)

    a_ids_after_a = {v[0] for v in sink_a_after if v[0] not in FLUSH_IDS}
    new_a = final_a - sink_a_after
    a_ids_new = {v[0] for v in new_a if v[0] not in FLUSH_IDS}
    all_dup = all(
        v[1] is True and v[2] is not None
        for v in (sink_a_after | new_a)
        if v[0] not in FLUSH_IDS
    )
    ct_b2 = {k: v for k, v in ct_all.items() if k not in ct_b1}

    out = {
        "rows": ROWS,
        "fresh_catalog": fresh_catalog,
        "build_s": round(build_s, 3),
        "reattach_s": round(reattach_s, 3),
        "counts_equal_after_reattach": counts_a == counts_b,
        "band_scan_bucketed_after_reattach": band_bucketed,
        "band_val_exchanges_after_reattach": band_exchanges,
        "band_join_equal_after_reattach": join_a == join_b,
        "plan_bucketed_after_reattach": plan_bucketed,
        "sh_exchanges_after_reattach": sh_exchanges,
        "a_b1_one_survivor_per_group": _one_survivor_each(b1_groups, a_ids_after_a),
        "a_b2_one_survivor_per_group": _one_survivor_each(b2_groups, a_ids_new),
        "a_b1_not_reemitted": {v for v in sink_a_after} <= final_a
        and not (a_ids_after_a & a_ids_new)
        and len(final_a_rows) == len(final_a),
        "a_all_dup_of_stored": all_dup,
        "ct_b1_equal_batch_twin": ct_b1 == ct_b1_expected,
        "ct_b2_complete_and_equal_twin": ct_b2 == ct_b2_expected,
        "ct_b1_not_reemitted": all(ct_all[k] == ct_b1[k] for k in ct_b1),
    }
    print(json.dumps(out))
    ok = (
        out["fresh_catalog"]
        and out["reattach_s"] < out["build_s"]
        and out["counts_equal_after_reattach"]
        and out["band_scan_bucketed_after_reattach"]
        and out["band_val_exchanges_after_reattach"] == 1
        and out["band_join_equal_after_reattach"]
        and out["plan_bucketed_after_reattach"]
        and out["sh_exchanges_after_reattach"] == 1
        and out["a_b1_one_survivor_per_group"]
        and out["a_b2_one_survivor_per_group"]
        and out["a_b1_not_reemitted"]
        and out["a_all_dup_of_stored"]
        and out["ct_b1_equal_batch_twin"]
        and out["ct_b2_complete_and_equal_twin"]
        and out["ct_b1_not_reemitted"]
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
