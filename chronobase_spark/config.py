"""File-based engine configuration — Spark-native analog of the
reference's JSON config (reference internal/config/config.go:11-42
``Config``, :154-170 ``LoadConfig``, :173-208 ``SaveConfig``/``Validate``).

The reference validates storage-engine knobs (tablet size, block size,
buffer pool…) that have no direct meaning on Spark; SURVEY.md §4 maps
each onto the session/config surface that *does* govern the same
behavior here. Only knobs that something reads are fields:

=====================  ==============================================
reference knob         Spark-native effect (``to_spark_conf``)
=====================  ==============================================
compression_type/lvl   spark.sql.parquet.compression.codec
block_size             spark.sql.files.maxPartitionBytes (scan split)
query_concurrency      spark.sql.shuffle.partitions
max_memory_usage       spark.driver.memory (local mode single JVM)
=====================  ==============================================

The reference's remaining knobs (tablet size, tickers, file and buffer
limits, logging; SURVEY D10/D11) have no reader here: ``load_config``
ignores them like any unknown key, so a reference config file loads.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class EngineConfig:
    """Engine configuration: the reference fields that have a Spark
    effect (config.go:11-42), with its defaults (config.go:79-113)
    translated to the Spark posture (zstd over gzip — columnar zstd
    dominates the reference's per-block gzip on ratio and scan speed)."""

    data_dir: str = "./data"
    block_size: int = 128 * 1024 * 1024  # scan-split granularity on Spark
    # compression
    compression_enabled: bool = True
    compression_type: str = "zstd"
    compression_level: int = 3
    # performance
    max_memory_usage: int = 8 * 1024 * 1024 * 1024
    query_concurrency: int = 32
    # passthrough for any raw spark conf the user pins
    extra_spark_conf: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        """Mirror of the reference's Validate (config.go:173-208): every
        size/count positive, known codec."""
        if not self.data_dir:
            raise ValueError("data_dir is required")
        for name in ("block_size", "query_concurrency", "max_memory_usage"):
            if getattr(self, name) <= 0:
                raise ValueError(f"{name} must be positive")
        if self.compression_type not in ("zstd", "snappy", "gzip", "lz4", "none"):
            raise ValueError(f"unknown compression_type {self.compression_type!r}")

    def to_spark_conf(self) -> dict[str, str]:
        """The session configuration this config implies (fed to
        ``session.get_spark(extra_conf=...)``)."""
        codec = self.compression_type if self.compression_enabled else "uncompressed"
        conf = {
            "spark.sql.parquet.compression.codec": codec,
            "spark.sql.files.maxPartitionBytes": str(self.block_size),
            "spark.sql.shuffle.partitions": str(self.query_concurrency),
            "spark.driver.memory": f"{max(self.max_memory_usage // (1024**2), 512)}m",
        }
        if self.compression_type == "zstd":
            conf["spark.io.compression.zstd.level"] = str(self.compression_level)
        conf.update(self.extra_spark_conf)
        return conf


def load_config(path: str) -> EngineConfig:
    """Load + validate a JSON config file, unknown-key tolerant, defaults
    applied for absent keys (reference LoadConfig, config.go:154-170)."""
    with open(path) as fh:
        raw = json.load(fh)
    if not isinstance(raw, dict):
        raise ValueError("config root must be a JSON object")
    cfg = EngineConfig()
    known = set(asdict(cfg))
    for key, value in raw.items():
        if key in known:
            setattr(cfg, key, value)
        # unknown keys ignored: forward-compatible, like json.Unmarshal
    cfg.validate()
    return cfg


def save_config(cfg: EngineConfig, path: str) -> None:
    """Validate + write (reference SaveConfig, config.go:173-193)."""
    cfg.validate()
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(asdict(cfg), fh, indent=4, sort_keys=True)
