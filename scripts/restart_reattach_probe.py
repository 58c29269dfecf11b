"""Restart re-attach probe — prove the bucketed-model recovery story.

r15 verdict, next-round #3: the production 100 TB form of the frozen
admission models (dedup.minhash_band_model_bucketed et al.) lives in
bucketed catalog tables whose METADATA the default in-memory catalog
forgets on session restart while the data files survive. Before this
round the honest answer was "rebuild on restart" — a store-sized model
build before the first trigger. writers.reattach_bucketed turns that
into one DDL statement over the surviving files; this probe proves it
across a REAL session boundary:

  Session A: build the minhash band/shingle model as bucketed tables
             (timed — this is the rebuild price a restart would pay).
  stop() — the in-memory catalog dies with the session.
  Session B: reattach_bucketed from the on-disk manifest (timed), then
             verify (1) row counts equal session A's, (2) the
             admission-shaped join result is identical, (3) the
             re-attached scan plans "Bucketed: true" with exactly ONE
             band-key Exchange in the whole join (the arriving side's)
             — i.e. the first post-restart trigger plans exactly like
             the pre-restart ones.

Emits one JSON line; tests/test_plans.py runs it as a subprocess (the
only way to get a genuinely fresh catalog — newSession() shares the
SharedState external catalog).

Usage:
    python scripts/restart_reattach_probe.py [--rows 150]
        [--buckets 4] [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLE_PREFIX = "probe_reattach_model"


def _admission_join_rows(spark, bands, arr_df):
    """The admission-shaped stream-static join (band-key equi-join,
    broadcast disabled so the bucketed layout is what's under test).
    Returns (sorted result rows, executed plan string)."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = arr_df.join(
            bands.select(F.col("doc").alias("cand"), "band_id", "band_val"),
            ["band_id", "band_val"],
            "left",
        ).select("doc", "cand")
        plan = j._jdf.queryExecution().executedPlan().toString()
        rows = sorted((r["doc"], r["cand"]) for r in j.collect())
        return rows, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=150)
    ap.add_argument("--buckets", type=int, default=4)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = args.cpus

    from chronobase_spark import catalog, get_spark
    from chronobase_spark.dedup import minhash
    from chronobase_spark.sources import writers

    wh = tempfile.mkdtemp(prefix="reattach_wh_")
    conf = {"spark.sql.warehouse.dir": wh}

    # ---- Session A: build the bucketed model (the rebuild price) ----
    spark = get_spark(app_name="reattach-probe-A", extra_conf=conf)
    docs = (
        catalog.table(spark, args.sf_dir, "documents")
        .filter("text IS NOT NULL")
        .limit(args.rows)
    )
    t0 = time.perf_counter()
    bands_a, sh_a = minhash.minhash_band_model_bucketed(
        docs, table_prefix=TABLE_PREFIX, buckets=args.buckets
    )
    # saveAsTable materialized the model — stop the clock BEFORE the
    # verification counts so build_s and reattach_s both time only
    # their own operation (r16 review: counts inside the build window
    # inflated the build-vs-reattach comparison)
    build_s = time.perf_counter() - t0
    band_rows_a, sh_rows_a = bands_a.count(), sh_a.count()
    arr = minhash.md5_band_table(docs.limit(25)).select(
        "doc", "band_id", "band_val"
    )
    arr_pd = arr.toPandas()  # freeze the arriving batch across sessions
    join_a, _ = _admission_join_rows(spark, bands_a, arr)
    spark.stop()  # catalog metadata dies here; files + manifest survive

    # ---- Session B: fresh catalog — re-attach, never rewrite ----
    spark = get_spark(app_name="reattach-probe-B", extra_conf=conf)
    assert not spark.catalog.tableExists(f"{TABLE_PREFIX}_bands"), (
        "restart simulation failed: the new session still sees the old "
        "catalog entry"
    )
    t0 = time.perf_counter()
    bands_b = writers.reattach_bucketed(spark, f"{TABLE_PREFIX}_bands")
    sh_b = writers.reattach_bucketed(spark, f"{TABLE_PREFIX}_shingles")
    reattach_s = time.perf_counter() - t0
    band_rows_b, sh_rows_b = bands_b.count(), sh_b.count()
    arr_b = spark.createDataFrame(arr_pd)
    join_b, plan = _admission_join_rows(spark, bands_b, arr_b)

    scan_lines = [ln for ln in plan.splitlines() if f"{TABLE_PREFIX}_bands" in ln]
    bucketed = bool(scan_lines) and all("Bucketed: true" in ln for ln in scan_lines)
    band_exchanges = sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "band_val" in ln
    )
    spark.stop()

    out = {
        "rows": args.rows,
        "buckets": args.buckets,
        "build_s": round(build_s, 3),
        "reattach_s": round(reattach_s, 3),
        "counts_equal": band_rows_a == band_rows_b and sh_rows_a == sh_rows_b,
        "band_rows": band_rows_b,
        "shingle_rows": sh_rows_b,
        "join_equal": join_a == join_b,
        "join_rows": len(join_b),
        "reattached_scan_bucketed": bucketed,
        "band_key_exchanges": band_exchanges,
    }
    print(json.dumps(out))
    ok = (
        out["counts_equal"]
        and out["join_equal"]
        and out["reattached_scan_bucketed"]
        and out["band_key_exchanges"] == 1
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
