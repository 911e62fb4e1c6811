"""Streaming model inference — the broadcast-model micro-batch face.

The 100 TB pattern this pins: a SMALL trained artifact (here the
k-means centroid model fitted offline by ``_fit_centroids``) is held
as a static, session-cached DataFrame and joined into an unbounded
stream of feature rows; every micro-batch gets the identical map-only
nearest-centroid assignment the batch face uses — same plan builder
(``assign_clusters``), zero state, zero stream-side shuffle. This is
the streaming twin of ``kmeans_incremental_assign`` exactly the way
``stream_tumbling_counts`` twins ``tumbling_hourly_counts``: batch
face oracle-checked by the driver, streaming face pinned by an
AvailableNow parity test (tests/test_streaming.py).

Stream-static join notes: the static side is an aggregate (the packed
1-row centroid broadcast); Spark recomputes static-side plans per
micro-batch, so the model is ``persist()``-ed by warm_kmeans_centroids
and the per-batch cost is the broadcast pickup, not a refit. Model
REFRESH is an index-rebuild decision (swap the cached model between
restarts), the same contract as lsh.warm_embedding_index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from project_orbit_spark.catalog import read_stream
from project_orbit_spark.operators.clustering import (
    _DUCK_KMEANS,
    assign_batch,
    warm_kmeans_centroids,
)
from project_orbit_spark.registry import register


def stream_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id) assignments of the embeddings STREAM
    against the persisted warm centroid model — one map-only
    stream-static broadcast join per micro-batch.

    Both faces route through clustering.assign_batch — the SAME
    quantize-then-assign helper the driver-green incremental query
    uses — so the stream operates in the model's QSCALE-quantized
    domain (centroids are means of round(x*1000) longs; feeding raw
    ~[-0.5,0.5] doubles would collapse every row onto the smallest-
    norm centroid — ADVICE r10 #1)."""
    stream = read_stream(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = warm_kmeans_centroids(spark, sf_dir)
    return assign_batch(stream, cents)


def batch_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch twin over the same rows (parity target for the
    AvailableNow test): identical plan builder (assign_batch),
    identical model, identical quantization."""
    from project_orbit_spark.catalog import load

    batch = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = warm_kmeans_centroids(spark, sf_dir)
    return assign_batch(batch, cents)


@register(
    "stream_cluster_assign_batch",
    # Was driver=False for ROUND 11 ONLY (registry.Query.driver case
    # 2); flipped per the register()-site note (VERDICT r11 ask #1).
    driver=True,
    bench=True,  # bench-visible now (like its twin), so the prepare
    # hook below actually runs and the per-round record tracks the
    # steady-state assignment cost, not the one-off model fit
    tags=("streaming", "cluster", "incremental", "embedding"),
    doc="Driver face of the broadcast-model streaming inference twin "
    "(stream_cluster_assign): the SAME plan builder — warm persisted "
    "centroid model + assign_batch quantize-and-assign — run over the "
    "batch read of the full embeddings table, so the exact "
    "stream-static join pipeline every micro-batch executes is "
    "hash-checked against the deterministic 3-round Lloyd oracle. "
    "Map-only: the 8-row model broadcasts as one packed row; zero "
    "shuffle, zero state. Prepare hook warms the model outside the "
    "bench timer.",
    oracle=f"""
        WITH {_DUCK_KMEANS}
        SELECT vec_id, cid AS cluster_id FROM a3 ORDER BY vec_id
    """,
    prepare=warm_kmeans_centroids,
)
def stream_cluster_assign_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return batch_cluster_assign(spark, sf_dir).orderBy("vec_id")
