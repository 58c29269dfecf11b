"""Config-file loader round-trip + validation (reference
internal/config/config.go:154-208 parity)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronobase_spark.config import (  # noqa: E402
    EngineConfig,
    load_config,
    save_config,
)


def test_round_trip(tmp_path):
    cfg = EngineConfig(
        data_dir="/data/chrono",
        block_size=64 * 1024 * 1024,
        query_concurrency=64,
        compression_type="zstd",
        extra_spark_conf={"spark.sql.adaptive.enabled": "true"},
    )
    path = str(tmp_path / "config.json")
    save_config(cfg, path)
    loaded = load_config(path)
    assert loaded == cfg


def test_defaults_applied_and_unknown_keys_ignored(tmp_path):
    path = str(tmp_path / "partial.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "data_dir": "/x",
                "compression_level": 5,
                "flush_interval": "5m",  # a reference knob with no reader
                "some_future_knob": 1,
            },
            fh,
        )
    cfg = load_config(path)
    assert cfg.data_dir == "/x"
    assert cfg.compression_level == 5
    assert cfg.query_concurrency == EngineConfig().query_concurrency
    assert not hasattr(cfg, "flush_interval")


def test_validation_rejects_bad_values(tmp_path):
    path = str(tmp_path / "bad.json")
    with open(path, "w") as fh:
        json.dump({"block_size": -1}, fh)
    with pytest.raises(ValueError, match="block_size"):
        load_config(path)
    with open(path, "w") as fh:
        json.dump({"compression_type": "brotli9000"}, fh)
    with pytest.raises(ValueError, match="compression_type"):
        load_config(path)


def test_to_spark_conf_mapping():
    cfg = EngineConfig(query_concurrency=128, block_size=64 * 1024 * 1024)
    conf = cfg.to_spark_conf()
    assert conf["spark.sql.shuffle.partitions"] == "128"
    assert conf["spark.sql.files.maxPartitionBytes"] == str(64 * 1024 * 1024)
    assert conf["spark.sql.parquet.compression.codec"] == "zstd"
    uncompressed = EngineConfig(compression_enabled=False).to_spark_conf()
    assert uncompressed["spark.sql.parquet.compression.codec"] == "uncompressed"
