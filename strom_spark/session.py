"""SparkSession factory with scale-conscious defaults.

Local testing runs on ``local[N]``; the same settings translate to a
real cluster (AQE, Arrow, UTC, shuffle partitions sized to parallelism
rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: providerClass value for the RocksDB state store — the recommended
#: default for large keyed streaming state (per-key CEP, dedup state):
#: state lives off-heap/on-disk instead of the JVM heap, measured −13%
#: on the per-key CEP lowering at sf1.0 with zero code change
#: (SCALE.md "state store" row).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_state_store(spark: SparkSession, kind: str = "rocksdb") -> None:
    """Select the streaming state-store backend for queries STARTED
    after this call (the provider is bound per-query at start, so an
    already-running query keeps its backend).  ``kind``: ``rocksdb``
    (recommended for large keyed state — bounded heap, spills to disk,
    changelog checkpointing) or ``memory`` (Spark's default
    HDFSBackedStateStoreProvider — fastest for small state)."""
    if kind == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    elif kind == "memory":
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    else:
        raise ValueError(f"state store must be 'rocksdb' or 'memory', got {kind!r}")


def local_cpus() -> int:
    """Task slots for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, else
    ``os.cpu_count()`` (4 when unknown).  Raises ``ValueError`` naming
    the variable when the value is not a positive integer, so a typo
    fails before any work runs."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return os.cpu_count() or 4
    try:
        cpus = int(raw)
    except ValueError:
        cpus = 0
    if cpus < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return cpus


def get_spark(app_name: str = "strom_spark") -> SparkSession:
    cpus = local_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the reference's `chunk` knob (events per processing batch,
        # lib/gen_mix.ex:7): Arrow rows per batch through Python UDFs;
        # lower it for wide/binary rows (multimodal), raise for narrow
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("STROM_SPARK_ARROW_BATCH", "10000"),
        )
        .config("spark.driver.memory", os.environ.get("STROM_SPARK_DRIVER_MEM", "16g"))
        # off: tests and benchmarks read jobs and stages from the
        # in-process status store, which needs no UI or REST port
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r14: let the planner pick shuffled hash join when its size
        # conditions hold (muchSmaller build side + canBuildLocalHashMap
        # — both stats-guarded, so a huge build side still plans SMJ,
        # and AQE skew splitting applies to SHJ too).  Full-bench A/B
        # at sf0.1: 113.9 s → 99.4 s (−13%), wins spread across ~80 of
        # 96 queries (sorts on the probe side disappear), zero
        # plan-shape risk rows (no new BNLJ/cartesian).  A runtime SQL
        # conf: spark.conf.set("spark.sql.join.preferSortMergeJoin",
        # "true") restores sort-merge joins for a comparison run.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # InferFiltersFromGenerate turns explode(f(x)) into a pushed-down
        # `size(f(x)) > 0` filter; predicate pushdown then drags the WHOLE
        # expensive expression (tokenize+shingle HOFs) below the
        # parallelizing exchange onto the narrow scan side, where it is
        # evaluated twice — once in the filter, once in the projection.
        # Excluding the rule is semantically safe: explode itself drops
        # empty arrays.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # shuffle/spill codec (guide §2.3): on local[N] the shuffle
        # rides the page cache, so compression CPU is pure overhead;
        # r14 A/B: zstd cost +8-15% on the shuffle-heavy queries with
        # zero network to save
        .config("spark.io.compression.codec", "lz4")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("STROM_SPARK_WAREHOUSE", "/tmp/strom_spark_warehouse"),
        )
        .getOrCreate()
    )
