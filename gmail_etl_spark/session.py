"""SparkSession factory with the engine's 100 TB scale posture.

The reference executes everything in one Python process with no
parallelism, partitioning, or spill (reference
``resources/gmail_functions.py:256-305``).  Here the execution posture is
pure Spark configuration (SURVEY §2.8 row X6): AQE for runtime
re-planning (partition coalescing, skew-join splitting, join demotion),
Arrow for the few pandas-UDF stages, and LAST_WIN map-key dedup so the
header-pivot operator (SURVEY P2) reproduces the reference's
last-wins loop semantics (``resources/gmail_functions.py:270-283``).

On a real cluster only ``master`` changes; every other knob below is
sized relative to the data, not the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for correctness-at-any-scale first, local speed second.
ENGINE_CONF: dict[str, str] = {
    # --- determinism / semantics ---------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # P2 header pivot: the reference's header loop overwrites earlier
    # values, i.e. duplicate keys resolve last-wins.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # --- adaptive execution (X6) ---------------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- python interop -------------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds pandas-UDF memory per slot; 10k rows of
    # wide text columns stays well under executor headroom.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Every Python task calls importlib.invalidate_caches(), and on
    # CPython 3.12 and earlier each zipimporter then re-reads its whole
    # archive; 3.13+ reloads lazily.  Measured in a worker (CPython 3.11,
    # 4 vCPUs): 16 re-reads of pyspark.zip's 1,328 entries, one per
    # zipimporter, 0.13-0.42 s per task; with this daemon, which re-reads
    # an archive only when its mtime or size changed (worker_daemon.py),
    # none and under 1 ms.  Workers import gmail_etl_spark anyway: the
    # pandas UDFs are pickled by reference.
    "spark.python.daemon.module": "gmail_etl_spark.worker_daemon",
    # --- shuffle sizing --------------------------------------------------
    # 32 matches local[32]; AQE coalesces down for small inputs and a
    # cluster deployment raises it to ~2-3x total cores.  At 100 TB the
    # number that matters is bytes/partition (~128-256 MB), which AQE
    # maintains via advisoryPartitionSizeInBytes.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
    # AQE shuffles START wide and coalesce down to the advisory size, so
    # a large frame is never trapped at shuffle.partitions-way
    # parallelism just because the static conf is sized for small
    # inputs.  Measured on the two-phase distributed window: 50M-row
    # global rank 10x faster at 256 range partitions than at 32
    # (DEVNOTES r7); tiny frames coalesce back, so small queries are
    # unaffected.  On a cluster this is the standard initialPartitionNum
    # >= 2-3x total cores posture.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    # Cached plans are excluded from AQE partition coalescing by
    # default, so a persist() materializes at the FULL
    # initialPartitionNum (512 tasks for a 200-row micro-batch frame —
    # measured 10x publish overhead in the streaming near-dup merge).
    # Allowing AQE to re-plan cached output partitioning restores the
    # coalesce; outputs are unchanged (physical knob only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Broadcast anything under 64 MB: region/nation/supplier-class dims
    # stay broadcast even at sf100k, eliminating the shuffle for the
    # star-join pattern (SURVEY §2.3).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Scan granularity: 128 MB splits keep 100 TB ≈ 800k tasks, the sweet
    # spot for 1000-executor scheduling without tiny-task overhead.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # Parquet TIMESTAMP(NANOS) columns (events.ts): older Spark surfaces
    # epoch-nano longs under this legacy flag (ignored by current Spark,
    # which reads µs-truncated TIMESTAMP_NTZ instead); load_table
    # normalizes either form via normalize_nano_ts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def _default_driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM if set, else half of physical RAM capped
    at 24g (floor 2g) — enough for 100k-row broadcast builds on big
    hosts without OOM-killing small ones."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(2, min(24, int(total_gib // 2)))}g"


def get_spark(
    app_name: str = "gmail-etl-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same entry point works under the driver harness and on a
    cluster (where ``master`` is injected by spark-submit and this arg is
    left None *and* a master is already set in the environment).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    # Driver memory only applies at JVM launch: in local mode the driver
    # JVM *is* the executor, and Spark's 1g default starves broadcast
    # builds and shuffle buffers on a large host.  On a cluster this is
    # spark-submit's concern, so it's env-overridable and ignored once a
    # JVM exists.  Default: half of physical RAM, capped at 24g, so the
    # library never asks for more heap than a small host can give.
    conf.setdefault("spark.driver.memory", _default_driver_mem())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
