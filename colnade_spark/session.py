"""SparkSession acquisition with scale-appropriate defaults.

All knobs here are plain public Spark configs. AQE is enabled so that at
real cluster scale the engine re-plans shuffles at runtime (skew-join
splitting, dynamic coalescing, runtime broadcast conversion); the session
timezone is pinned to UTC so timestamp semantics are deterministic across
driver locales and match the DuckDB correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark otherwise records the Python call site of every Column and
    # functions call, at ~5 py4j round trips each; for typed frames that
    # site is always colnade_spark's own lowering code, never the user's.
    # Runtime errors keep their class and errorClass without it. Turn it
    # back on with SPARK_GRAFT_EXTRA_CONF=
    # "spark.python.sql.dataFrameDebugging.enabled=true".
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # local[32] testing default; a real cluster would size this to
    # ~2-3x total cores and rely on AQE coalescing
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
}


def get_spark(app_name: str = "colnade-spark") -> SparkSession:
    """Return the active session, or build a local one with tuned defaults."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # harness knob: extra confs as "k=v;k=v" (e.g. zstd shuffle
    # compression for the single-disk scale-board host — a cluster has
    # per-executor disks; the 252G local volume is the artificial bound)
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, extra.split(";")):
        k, _, v = item.partition("=")
        if k.strip():
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()
