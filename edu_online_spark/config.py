"""Engine configuration.

Replaces the reference's property-file loader (PropertyUtil.scala:20-27,
ConfigurationManager.java:14-38) with a typed dataclass sourced from
environment variables — no hidden classpath resources.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _int_env(name: str, default: int) -> int:
    try:
        return int(os.environ.get(name, default))
    except ValueError:
        return default


@dataclass(frozen=True)
class EngineConfig:
    """All knobs in one place; defaults size themselves to the local
    core count, and every value stays valid on a multi-executor cluster."""

    app_name: str = "edu-online-spark"
    # local[$SPARK_GRAFT_CPUS]; on a real cluster the master URL comes
    # from spark-submit and this is ignored.
    cpus: int = field(default_factory=lambda: _int_env("SPARK_GRAFT_CPUS", 32))
    # One shuffle partition per core (0 = `cpus`). AQE does not run inside
    # streaming micro-batches, so every trigger pays the full count (one
    # state store per partition per stateful operator); raise it only for
    # batch work at scale (~2-3x total cores), where AQE coalesces the excess.
    shuffle_partitions: int = field(
        default_factory=lambda: _int_env("SPARK_GRAFT_SHUFFLE_PARTITIONS", 0)
    )
    # 128 MiB split target keeps scan tasks uniform at any scale factor.
    max_partition_bytes: str = "134217728"
    # Auto-broadcast threshold: 64 MiB — dimension tables (region, nation,
    # supplier, even customer at sf<=1) broadcast instead of shuffling.
    broadcast_threshold: str = str(64 * 1024 * 1024)
    session_timezone: str = "UTC"
    default_sf_dir: str = field(
        default_factory=lambda: os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
    )
    # Streaming state-store backend. "rocksdb" switches to the
    # off-heap, spillable RocksDB provider — the production choice once
    # keyed state outgrows executor heap (the default HDFS-backed store
    # keeps every key in memory). Tested in
    # tests/test_streaming.py::test_quiz_mastery_under_rocksdb_state_store.
    state_store: str = field(
        default_factory=lambda: os.environ.get("SPARK_GRAFT_STATE_STORE", "default")
    )
    # Fixed questions-per-knowledge-point denominator from the reference
    # (QzPointStreaming.scala:171).
    questions_per_point: int = 30

    def __post_init__(self) -> None:
        if self.shuffle_partitions <= 0:
            object.__setattr__(self, "shuffle_partitions", self.cpus)


DEFAULT = EngineConfig()
