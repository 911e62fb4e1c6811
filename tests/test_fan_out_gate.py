"""The scale-adaptive scan fan-out gate (catalog._fan_out_scan) must
be provably DEAD at lake scale: when the input's own byte size yields
enough splits to feed the cores, or when the path is not a local file
(object stores), load() must be byte-for-byte the plain scan. r17
carried this as a comment; VERDICT r17 #7 asks for it test-enforced."""

from __future__ import annotations

import os

import pytest

from project_orbit_spark.catalog import _fan_out_scan, _size_to_bytes
from tests.conftest import SF_DIR


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("134217728b", 134217728),
        ("128m", 128 * 1024**2),
        ("128mb", 128 * 1024**2),  # ADVICE r17 #5: two-letter suffix
        ("64kb", 64 * 1024),
        ("1g", 1024**3),
        ("1gb", 1024**3),
        (" 512 ", 512),
    ],
)
def test_size_to_bytes_parses_spark_forms(raw, expected):
    assert _size_to_bytes(raw) == expected


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_gate_is_dead_when_splits_feed_the_cores(spark):
    # Shrink maxPartitionBytes so the fixture file's own split count
    # est_splits = ceil(size / maxPartitionBytes) >= defaultParallelism
    # — the 100 TB shape. The gate must return the SAME plan object,
    # no repartition node.
    path = os.path.join(SF_DIR, "documents.parquet")
    df = _docs(spark)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1b")
        assert _fan_out_scan(spark, df, path) is df
        assert _fan_out_scan(spark, df, path, ("doc_id",)) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_gate_is_dead_on_non_local_paths(spark):
    # Object-store URIs and any path os.path.getsize cannot stat must
    # silently fall back to the plain scan (documented OSError branch).
    df = _docs(spark)
    for path in ("s3://bucket/lake/documents", "/no/such/file.parquet"):
        assert _fan_out_scan(spark, df, path) is df


def test_gate_fans_out_single_rowgroup_fixture(spark):
    # The fixture parquet is ONE row group; with the default 128MB
    # maxPartitionBytes the estimated split count is 1 < cores, so the
    # gate must add exactly one repartition to defaultParallelism.
    path = os.path.join(SF_DIR, "documents.parquet")
    df = _docs(spark)
    fanned = _fan_out_scan(spark, df, path)
    assert fanned is not df
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

