"""Batch writers for tables without a time axis: plain tables and
bucketed catalog tables. Time-series tables are written by the storage
layer (``chronobase_spark.streaming.maintenance``), which owns their
``event_date`` layout and commit protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(df: DataFrame, path: str) -> None:
    """Plain dimension/fact table write (no time axis)."""
    df.write.mode("overwrite").parquet(path)


#: Manifest file written beside a bucketed table's data files. The
#: leading underscore makes Spark's file index skip it as a data file
#: (same convention as _SUCCESS), so it rides along with the parquet
#: and survives exactly as long as the data does.
BUCKET_MANIFEST = "_chronobase_bucket_ddl.json"


def _normalize_table_name(table_name: str) -> str:
    """The session catalog lower-cases table identifiers, and a
    qualified name (db.tbl) maps to a different on-disk layout than
    ``{warehouse}/{name}`` — so a mixed-case or qualified name would
    compute a stale-location path that deletes the wrong (or no)
    directory (r15 advisor note). Normalize the former, reject the
    latter."""
    if "." in table_name:
        raise ValueError(
            f"write_bucketed takes an unqualified table name, got {table_name!r} "
            "(qualified names resolve to a database-scoped location that the "
            "stale-location cleanup and manifest path logic do not model)"
        )
    return table_name.lower()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str | list[str],
    n_buckets: int = 8,
    sort_col: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: pre-shuffled on ``bucket_col`` at write
    time so joins/aggregations on that key read co-located buckets and
    skip the runtime Exchange entirely — the 100 TB answer for a fact
    table joined on the same key every day (pay the shuffle once, at
    ingest). Bucket counts must match across co-joined tables, and the
    bucket columns must EQUAL the join's equi-keys (Spark v1 bucketing
    ignores a subset layout — measured in dedup.minhash's bucketed
    admission model).

    Restart story: the default in-memory catalog forgets the table
    between sessions while its files persist, so every write drops a
    ``_chronobase_bucket_ddl.json`` manifest beside the data recording
    the exact CREATE contract (schema DDL, bucket/sort columns, bucket
    count). A later session calls :func:`reattach_bucketed` to
    re-register the files with one DDL statement — no rewrite, and the
    re-attached table still plans ``Bucketed: true`` with zero
    static-side Exchange (pinned in tests/test_plans.py; measured in
    SCALING.md r16: re-attach is O(1) DDL vs the store-sized rebuild).

    Only ``mode='overwrite'`` drops the existing table and clears a
    stale managed location (so overwrite never dies with
    LOCATION_ALREADY_EXISTS); append/error modes leave existing state
    alone — cleanup under append was silent data loss (r15 advisor
    note)."""
    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    table_name = _normalize_table_name(table_name)
    spark = df.sparkSession
    wh = spark.conf.get("spark.sql.warehouse.dir")
    location = f"{wh}/{table_name}"
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        p = spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p):
            fs.delete(p, True)
    writer = df.write.mode(mode).bucketBy(n_buckets, cols[0], *cols[1:])
    s: list[str] = []
    if sort_col is not None:
        s = [sort_col] if isinstance(sort_col, str) else list(sort_col)
        writer = writer.sortBy(s[0], *s[1:])
    writer.saveAsTable(table_name)
    _write_bucket_manifest(spark, table_name, cols, n_buckets, s)


#: Bucketed data files carry their bucket id as a `_NNNNN` suffix
#: before the `.c000` piece (part-00001-<uuid>_00002.c000.zstd.parquet)
#: — the attach-time layout check keys on it.
_BUCKET_FILE_RE = r"_(\d{5})\.c\d+\."


def _list_data_files(spark, loc: str) -> list[str]:
    """Names of the non-hidden data files directly under ``loc``
    (Spark's file-index convention: `_`/`.`-prefixed entries are
    metadata, everything else is data)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(loc)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]


def _write_bucket_manifest(
    spark, table_name: str, bucket_cols: list[str], n_buckets: int, sort_cols: list[str]
) -> None:
    """Persist the re-attach contract beside the table's data files.

    Schema is read back from the catalog (post-write, so it reflects
    what the files actually contain) and serialized as DDL — the one
    form CREATE TABLE accepts verbatim. The manifest also records what
    the files LOOKED like at write time (row count — footer-priced on
    parquet, no column scan — and data-file count) so a later
    ``reattach_bucketed`` can verify the directory still matches
    before trusting the bucket metadata (bucketed joins trust the
    catalog blindly; a stale manifest over rewritten files would
    silently drop join matches, r16 verdict #2).

    Atomic write (the reference's own intent, utils/fileutils.go:87-103,
    SURVEY §1.2): JSON goes to a hidden temp file first, then renames
    over the final name — a crash mid-write leaves either the previous
    manifest or none at all (both loud at attach time), never a
    truncated JSON that used to surface as a raw decode error."""
    import json

    schema_ddl = spark.table(table_name).schema.toDDL()
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{wh}/{table_name}"
    manifest = {
        "table": table_name,
        "schema_ddl": schema_ddl,
        "bucket_cols": bucket_cols,
        "n_buckets": n_buckets,
        "sort_cols": sort_cols,
        "n_rows": spark.table(table_name).count(),
        "n_data_files": len(_list_data_files(spark, loc)),
    }
    jvm = spark._jvm
    final = jvm.org.apache.hadoop.fs.Path(f"{loc}/{BUCKET_MANIFEST}")
    tmp = jvm.org.apache.hadoop.fs.Path(f"{loc}/.{BUCKET_MANIFEST}.tmp")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        out.close()
    # Hadoop rename refuses an existing destination on some FSes —
    # delete first. The non-atomic window leaves NO manifest (loud
    # FileNotFoundError at attach), never a truncated one.
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not rename {tmp} to {final}")


def reattach_bucketed(spark, table_name: str, location: str | None = None) -> DataFrame:
    """Re-register a bucketed table written by :func:`write_bucketed`
    in an EARLIER session, without rewriting any data.

    The production recovery path for the streaming admission models
    (dedup.minhash_band_model_bucketed et al.): a restarted job's
    in-memory catalog has forgotten the table, but the bucketed files
    (and the manifest recording their layout) survive in the warehouse
    directory. One ``CREATE TABLE ... USING PARQUET CLUSTERED BY ...
    INTO n BUCKETS LOCATION ...`` re-attaches them with the bucketing
    metadata intact, so the first trigger after restart plans exactly
    like the pre-restart ones — ``Bucketed: true``, zero static-side
    Exchange — instead of re-paying a store-sized model build.

    ``location`` defaults to ``{warehouse.dir}/{table_name}`` (where
    write_bucketed put it); pass it explicitly when the warehouse moved
    or the files were relocated. The created table is EXTERNAL (DROP
    forgets it without deleting data). Raises FileNotFoundError when no
    manifest exists at the location — an unmanifested directory has no
    trustworthy bucket metadata, and attaching it unbucketed would
    silently reintroduce the per-trigger Exchange. Raises ValueError
    when the name is currently a MANAGED table in this session's
    catalog: dropping it would DELETE the very files being attached
    and the re-create would silently yield an empty model (r16 review
    catch) — a still-attached managed table needs no re-attach, so the
    caller's startup logic should check tableExists first
    (:func:`ensure_bucketed` is that logic as one call).

    The manifest is VERIFIED, not trusted (r16 verdict #2 — a bucketed
    join silently drops matches when the catalog's CLUSTERED BY
    metadata mis-describes the files, so a stale manifest must fail
    loudly, never quietly mis-join): (1) malformed/truncated JSON
    raises ValueError naming the file instead of a raw decode error;
    (2) before CREATE, every data file at the location must carry a
    bucket-id suffix < n_buckets and the file count must match the
    manifest — a directory rewritten out-of-band by a plain
    (non-bucketed) write trips here; (3) after CREATE, the attached
    table's row count (parquet-footer-priced) must equal the
    manifest's recorded count, else the table is dropped and the
    attach refused."""
    import json
    import re

    table_name = _normalize_table_name(table_name)
    if spark.catalog.tableExists(table_name):
        # catalog API, not DESCRIBE-output scraping: a table COLUMN
        # named "Type" would shadow the detailed-section row (r16
        # review catch), and views get an honest message too
        ttype = (spark.catalog.getTable(table_name).tableType or "").upper()
        if ttype != "EXTERNAL":
            raise ValueError(
                f"{table_name} already exists as {ttype or 'UNKNOWN'} in the "
                "current catalog — dropping a managed table would delete the "
                "data files being attached. It is still attached; use "
                "spark.table() directly."
            )
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = location or f"{wh}/{table_name}"
    jvm = spark._jvm
    mpath = jvm.org.apache.hadoop.fs.Path(f"{loc}/{BUCKET_MANIFEST}")
    fs = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(mpath):
        raise FileNotFoundError(
            f"no {BUCKET_MANIFEST} under {loc} — not a write_bucketed table"
        )
    # Hadoop's own IOUtils, not commons-io: commons-io is a transitive
    # Spark dependency that an upgrade may shade or drop, while
    # org.apache.hadoop.io.IOUtils ships with the FileSystem API the
    # surrounding code already requires (r16 advisor note).
    try:
        stream = fs.open(mpath)
        bout = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bout, 4096, True)
        raw = bytes(bout.toByteArray())
        m = json.loads(raw.decode("utf-8"))
    except Exception as exc:
        # one graceful path for every way the manifest can be unreadable:
        # truncated JSON (crash on a plain FS), a ChecksumException from
        # LocalFileSystem's .crc sidecar (out-of-band edit), encoding
        # damage — the caller gets the file to look at, not a py4j trace
        raise ValueError(
            f"malformed bucket manifest at {loc}/{BUCKET_MANIFEST} "
            f"({type(exc).__name__}: {str(exc).splitlines()[0][:200]}) — "
            "the file is truncated or damaged; refusing to attach with "
            "guessed bucket metadata"
        ) from None
    missing = {"schema_ddl", "bucket_cols", "n_buckets", "sort_cols"} - set(m)
    if missing:
        raise ValueError(
            f"bucket manifest at {loc}/{BUCKET_MANIFEST} is missing "
            f"required keys {sorted(missing)} — refusing to attach"
        )
    # Layout check BEFORE create: every data file must look like a
    # bucketed write with a bucket id the manifest's count covers, and
    # the file census must match what write_bucketed recorded. (Legacy
    # manifests without counts still get the suffix check.)
    data_files = _list_data_files(spark, loc)
    bad = [
        f
        for f in data_files
        if not (mm := re.search(_BUCKET_FILE_RE, f))
        or int(mm.group(1)) >= m["n_buckets"]
    ]
    if bad:
        raise ValueError(
            f"data files at {loc} do not match the manifest's bucketed "
            f"layout (n_buckets={m['n_buckets']}): {sorted(bad)[:5]} — the "
            "directory was rewritten by a non-bucketed (or differently "
            "bucketed) writer after the manifest; attaching would "
            "silently mis-join"
        )
    if "n_data_files" in m and len(data_files) != m["n_data_files"]:
        raise ValueError(
            f"{loc} holds {len(data_files)} data files but the manifest "
            f"recorded {m['n_data_files']} — files were added or removed "
            "out-of-band; refusing to attach stale bucket metadata"
        )
    bucket_cols = ", ".join(m["bucket_cols"])
    sorted_clause = (
        f"SORTED BY ({', '.join(m['sort_cols'])}) " if m["sort_cols"] else ""
    )
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    spark.sql(
        f"CREATE TABLE {table_name} ({m['schema_ddl']}) USING PARQUET "
        f"CLUSTERED BY ({bucket_cols}) {sorted_clause}"
        f"INTO {m['n_buckets']} BUCKETS LOCATION '{loc}'"
    )
    if "n_rows" in m:
        try:
            n = spark.table(table_name).count()
        except Exception as exc:
            # unreadable files (schema drift, corruption) would leave a
            # half-attached table registered — drop before surfacing
            spark.sql(f"DROP TABLE IF EXISTS {table_name}")
            raise ValueError(
                f"attached table {table_name} at {loc} is unreadable "
                f"({type(exc).__name__}) — re-attach refused and the "
                "table dropped"
            ) from exc
        if n != m["n_rows"]:
            spark.sql(f"DROP TABLE {table_name}")
            raise ValueError(
                f"attached table {table_name} reads {n} rows but the "
                f"manifest recorded {m['n_rows']} — content at {loc} "
                "changed since write_bucketed; re-attach refused"
            )
    return spark.table(table_name)


def ensure_bucketed(
    spark,
    table_name: str,
    build,
    location: str | None = None,
) -> DataFrame:
    """The startup decision the reattach docstrings tell callers to
    make, as one call — the production boot path for a streaming
    admission job's frozen models:

      1. table still in the catalog  → use it (no work);
      2. only files + manifest survive (the restart case) →
         :func:`reattach_bucketed` (DDL-priced, verified);
      3. nothing on disk → ``build()`` (the store-sized model build —
         write_bucketed/minhash_band_model_bucketed/
         containment_model_bucketed), which must register
         ``table_name``.

    ``build`` is a zero-arg callable; its return value is ignored and
    the attached table is returned in all three paths, so callers hold
    one code path for cold start, warm catalog, and crash recovery.
    Raises if ``build`` completes without registering the table — a
    silent no-op builder would otherwise surface later as an
    unresolved-relation error in the middle of a stream."""
    table_name = _normalize_table_name(table_name)
    if spark.catalog.tableExists(table_name):
        return spark.table(table_name)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    loc = location or f"{wh}/{table_name}"
    mpath = spark._jvm.org.apache.hadoop.fs.Path(f"{loc}/{BUCKET_MANIFEST}")
    fs = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(mpath):
        return reattach_bucketed(spark, table_name, loc)
    build()
    if not spark.catalog.tableExists(table_name):
        raise ValueError(
            f"ensure_bucketed: build() completed without registering "
            f"{table_name!r} — the builder must create the table "
            "(write_bucketed or a *_bucketed model builder)"
        )
    return spark.table(table_name)

