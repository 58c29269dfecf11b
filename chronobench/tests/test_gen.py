"""The generator is a pure function of its seed: the same seed writes
byte-identical input files, another seed writes different ones.

    python3 -m pytest chronobench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _write_all(root: str, seed: int) -> dict[str, bytes]:
    """Every kind of generated input, written under ``root``; returns
    file name -> bytes."""
    os.makedirs(root)
    for r in range(2):
        batch = gen.event_batch(seed, r, first_event_id=r * gen.TSDB["rows_per_round"])
        gen.land_batch(batch, root, r, n_files=2)
    tables = gen.star_tables(seed, 0.001)
    tables["documents"], _ = gen.documents(seed, 120)
    tables["embeddings"], _, _ = gen.embeddings(seed, 200, 8)
    gen.write_corpus(root, tables)
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), seed=7)
    b = _write_all(str(tmp_path / "b"), seed=7)
    assert a.keys() == b.keys()
    assert len(a) == 4 + 10  # two batches of two files, ten corpus tables
    for name in a:
        assert a[name] == b[name], name


def test_different_seeds_give_different_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), seed=7)
    b = _write_all(str(tmp_path / "b"), seed=8)
    # region and nation are fixed dimension tables; everything else moves
    differ = {name for name in a if a[name] != b[name]}
    assert differ == set(a) - {"region.parquet", "nation.parquet"}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_event_batch_shares(seed):
    cfg = gen.TSDB
    batch = gen.event_batch(seed, 5, first_event_id=100)
    now = gen.sim_now_us(5)
    ts = batch["ts"]
    n = cfg["rows_per_round"]
    past = ts <= now - cfg["ttl_us"]
    late = (ts > now - cfg["ttl_us"]) & (ts <= now - cfg["step_us"])
    assert past.sum() == int(n * cfg["past_ttl_share"])
    assert late.sum() == int(n * cfg["ooo_share"])
    assert (ts <= now).all()
    # no row within the margin of a midnight, where every cutoff falls
    tod = ts % gen.DAY_US
    assert ((tod >= gen.MIDNIGHT_MARGIN_US) & (tod < gen.DAY_US - gen.MIDNIGHT_MARGIN_US)).all()
    assert (np.diff(batch["event_id"]) == 1).all() and batch["event_id"][0] == 100


def test_documents_truth_pairs_are_in_cluster_pairs():
    table, truth = gen.documents(3, 300)
    size = gen.DOCS["cluster_size"]
    n_clusters = int(300 * gen.DOCS["dup_share"]) // size
    assert len(truth) == n_clusters * size * (size - 1) // 2
    assert all(a < b for a, b in truth)
    assert sorted(table.column("doc_id").to_pylist()) == list(range(300))
