"""Differential harness: run a Spark query and its DuckDB oracle on the
same parquet tables and compare (row count, column names, sorted
values) — a local mirror of the driver's CORRECTNESS check, so every
registered query is verified before the driver ever sees it.
"""

from __future__ import annotations

import datetime
import math
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

from chronobase_spark.catalog import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all
    columns, positional index."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def _canon_str(x) -> str:
    """Canonical string for one scalar, mirroring a stringifying hash:
    floats via repr (shortest round-trip decimal), timestamps/dates
    normalized to ISO, everything else via str(). A Decimal therefore
    keeps its trailing-zero scale and can NOT silently equal the
    float64 DuckDB hands back for wide decimals — the representation
    class that let nation_revenue_share ship red in r6."""
    if isinstance(x, (float, np.floating)):
        return repr(float(x))
    if isinstance(x, (np.integer,)):
        return str(int(x))
    if isinstance(x, pd.Timestamp):
        return x.isoformat()
    if isinstance(x, datetime.datetime):
        return x.isoformat()
    if isinstance(x, datetime.date):
        return x.isoformat()
    return str(x)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    a_float = isinstance(a, (float, np.floating))
    b_float = isinstance(b, (float, np.floating))
    if a_float and b_float:
        af, bf = float(a), float(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf
    if isinstance(a, (list, tuple, np.ndarray)) or isinstance(
        b, (list, tuple, np.ndarray)
    ):
        if not isinstance(a, (list, tuple, np.ndarray)) or not isinstance(
            b, (list, tuple, np.ndarray)
        ):
            return False
        la, lb = list(a), list(b)
        return len(la) == len(lb) and all(
            _values_equal(x, y) for x, y in zip(la, lb)
        )
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    # Strict cross-engine contract: identical canonical STRINGS, not
    # merely numerically-equal values. int64 5 vs float64 5.0, or
    # Decimal('1.20') vs 1.2, are driver-hash mismatches and must
    # fail here too (tests/oracle_harness is the local gate).
    return _canon_str(a) == _canon_str(b)


def compare(spark_df, oracle_pdf: pd.DataFrame, name: str = "") -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    return compare_pandas(spark_df.toPandas(), oracle_pdf, name)


def compare_pandas(spdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> list[str]:
    """:func:`compare` of a Spark result already converted to pandas."""
    problems: list[str] = []
    a, b = _canon(spdf), _canon(oracle_pdf)
    if list(a.columns) != list(b.columns):
        problems.append(f"{name}: columns differ: spark={list(a.columns)} duck={list(b.columns)}")
        return problems
    if len(a) != len(b):
        problems.append(f"{name}: row count differs: spark={len(a)} duck={len(b)}")
        return problems
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(av, bv))
            if not _values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(
                f"{name}.{col}: {len(bad)}/{len(av)} values differ; "
                f"first at row {i}: spark={x!r} duck={y!r}"
            )
    return problems


#: Calls a registry sweep runs at once. Over the tiny test corpora a
#: query's time is mostly driver-side planning and job scheduling, which
#: overlaps across the threads of one session: the empty-table sweep of
#: the whole registry took 100 s one query at a time and 42 s four at a
#: time (4 CPUs, warm session).
SWEEP_THREADS = 4


def _caught(call):
    try:
        return call()
    except Exception as exc:  # noqa: BLE001 — a sweep reports each query's error
        return exc


def sweep(run, names, between=None) -> tuple[dict, dict]:
    """Call ``run(name)`` for every name on a pool of SWEEP_THREADS
    threads sharing one Spark session; meanwhile, if given, call
    ``between(name)`` for every name on this thread (the DuckDB side of
    an oracle sweep). Returns ``({name: run's result}, {name: between's
    result})``, where a call that raised maps to its exception."""
    with ThreadPoolExecutor(SWEEP_THREADS) as pool:
        futures = {n: pool.submit(_caught, lambda n=n: run(n)) for n in names}
        side = {n: _caught(lambda n=n: between(n)) for n in names} if between else {}
        return {n: f.result() for n, f in futures.items()}, side


def oracle_sweep(spark, sf_dir: str, queries: dict, oracles: dict, names) -> list[str]:
    """Every named query against its DuckDB oracle over ``sf_dir``: the
    Spark sides run on the sweep pool while DuckDB runs the oracles. An
    error on either side is reported as that query's one problem (the
    Spark error first, as a sequential run would have raised it)."""
    con = duck_connection(sf_dir)
    got, want = sweep(
        lambda n: queries[n](spark, sf_dir).toPandas(),
        names,
        lambda n: con.execute(oracles[n]).fetchdf(),
    )
    problems: list[str] = []
    for name in names:
        a, b = got[name], want[name]
        err = a if isinstance(a, Exception) else b if isinstance(b, Exception) else None
        if err is None:
            err = _caught(lambda: problems.extend(compare_pandas(a, b, name)))
        if isinstance(err, Exception):
            problems.append(f"{name}: {type(err).__name__}: {err}"[:200])
    return problems
