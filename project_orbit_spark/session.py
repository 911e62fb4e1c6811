"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every knob here is chosen for
cluster scale: AQE (runtime coalescing + skew-join splitting), a
shuffle-partition count sized to the test substrate, Arrow for any
pandas interchange, and UTC session time so timestamp semantics match
the DuckDB oracle exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "project_orbit_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``; an existing active session is reused with its
    master untouched so the driver harness stays in control.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(master or f"local[{cpus}]")
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Session-scoped persisted-DataFrame caches (warm centroid index, cached
# BM25 tokenization). Keys must start with ``cache_token(spark)`` — the
# sparkContext.applicationId, a stable LIVE-session identifier — never
# ``id(spark)``: a stopped session's address can be reused by a new one,
# which would hand back DataFrames bound to a dead JVM while pinning
# their persisted blocks for process lifetime.

_DF_CACHES: list[dict] = []


def register_df_cache(cache: dict) -> dict:
    """Register a module-level DataFrame cache so clear_df_caches()
    can unpersist and drop its entries."""
    _DF_CACHES.append(cache)
    return cache


def cache_token(spark: SparkSession) -> str:
    """Stable live-session identifier for persisted-DataFrame cache
    keys (a fresh session always gets a fresh applicationId)."""
    return spark.sparkContext.applicationId


def _unpersist_value(value) -> None:
    """Unpersist one cache value. Values are DataFrames, plain
    verdicts (the broadcast-gate probe cache), or bundles of
    DataFrames: dicts (the curation artifacts) and tuples or lists
    (the DSIR model's (lm, stats)) — recurse into bundles so bundled
    artifacts release their blocks too."""
    if isinstance(value, dict):
        value = list(value.values())
    if isinstance(value, (tuple, list)):
        for v in value:
            _unpersist_value(v)
        return
    try:
        # only DataFrames pin blocks; plain verdicts have no unpersist
        if hasattr(value, "unpersist"):
            value.unpersist()
    except Exception:  # session already stopped — blocks are gone
        pass


def clear_df_caches() -> None:
    """Unpersist and drop every session-scoped cached DataFrame —
    the explicit release hook for long-lived drivers and tests."""
    for cache in _DF_CACHES:
        for df in cache.values():
            _unpersist_value(df)
        cache.clear()
