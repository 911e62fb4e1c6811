"""Deterministic Lloyd k-means over the embeddings table, plus the
cluster-balanced quota sample built on it.

The reference's curation stack stops at per-label centroids (the IVF
routing table, similarity/cosine.py::centroids); this module adds the
UNSUPERVISED face a training-data pipeline needs: cluster the corpus
without labels, then balance the training mix per cluster (the
cluster-then-sample curation pattern from the SemDeDup / cluster-
balanced-mixing literature — clustering is the stage those methods
run BEFORE dedup/sampling).

Determinism contract (what makes this hash-oracle-able when general
k-means is not):

- **Integer quantization.** Embeddings are quantized to thousandths
  (``round(x·1000)`` as long) before anything else. Per-cluster
  dimension sums are then exact integers — order-independent across
  partitions, engines, and runs — so the centroid update
  ``sum/count`` is a single exact-input double division both engines
  compute identically. Float means over raw floats (the approach the
  per-label centroid table gets away with by rounding to 6dp) would
  make Lloyd iterations order-sensitive: an assignment flip in
  iteration 1 cascades.
- **Hash-seeded init.** The k seeds are the vectors with the k
  smallest ``(md5(vec_id), vec_id)`` — no RNG, no wall-clock
  (hygiene rule), stable across engines.
- **Fixed iteration count.** 3 Lloyd rounds, no convergence test:
  a data-dependent stopping rule would need observe()-style
  accumulators (the PageRank pattern) and make the row hash depend
  on float convergence behavior. 3 rounds is the contract, not a
  heuristic.
- **Total-order argmin.** Nearest centroid = array_min over
  (distance, cid) structs — lexicographic, ties to the lowest cid.
  Distances are sequential left folds over the dimension index
  (F.aggregate ≡ DuckDB list_reduce), so both engines produce
  bit-identical doubles.

Scale shape (100 TB): assignment is map-only — the k=8 centroid
table is packed into ONE broadcast row and every executor scans its
partition against it (the BNLJ is a bounded 1-row build, allowlisted
in tools/plan_audit.py). The update is a posexplode to (cluster,
dim) keyed longs — k·64 groups with map-side partial sums, the
canonical tree-aggregation k-means update. 3 iterations = 3 tiny
shuffles + 3 corpus scans; lineage re-reads the parquet with column
pruning rather than persisting (centroids are the only state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from project_orbit_spark.catalog import load, stage
from project_orbit_spark.registry import register
from project_orbit_spark.session import memo

K = 8
ITERS = 3
QSCALE = 1000
SAMPLE_PER_CLUSTER = 20


def quantized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q: array<long>) — embeddings quantized to thousandths.
    float32→double is exact, the *1000 product and HALF_UP round are
    IEEE-identical in Spark and DuckDB, so q is cross-engine stable."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * QSCALE, 0).cast("long"),
        ).alias("q"),
    )


def _sqdist(q: Column, cent: Column) -> Column:
    """Squared L2 between a quantized vector and a double centroid as
    a sequential left fold (index order) — DuckDB's list_reduce over
    the same terms folds identically, so ties are exact, not fuzzy."""
    return F.aggregate(
        F.zip_with(
            q,
            cent,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seed_centroids(qvec: DataFrame) -> DataFrame:
    """(cid, cent): the K hash-smallest vectors, cid 0..K-1 in hash
    order. A global top-K by (md5, vec_id), not a full sort."""
    w = Window.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
    return (
        qvec.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(K)
        .withColumn("cid", F.row_number().over(w).cast("long") - 1)
        .select("cid", F.transform("q", lambda x: x.cast("double")).alias("cent"))
    )


def assign_clusters(qvec: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, q, cid): map-only nearest-centroid assignment against
    the packed single-row broadcast of the centroid table."""
    pack = cents.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cid", "cent"))).alias("cs")
    )
    best = F.array_min(
        F.transform(
            "cs",
            lambda c: F.struct(
                _sqdist(F.col("q"), c["cent"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    return (
        qvec.crossJoin(F.broadcast(pack))
        .select("vec_id", "q", best["cid"].alias("cid"))
    )


def update_centroids(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """Exact-integer mean update: per-(cid, dim) long sums (map-side
    partial agg over k·dims groups), one double division each, then
    reassembled in dim order. A cluster that lost every member keeps
    its previous centroid (both engines coalesce identically)."""
    sums = (
        assigned.select("cid", F.posexplode("q").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cid",
            "dim",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("cval"),
        )
    )
    fresh = sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
        ).alias("cent")
    )
    return (
        prev.select("cid", F.col("cent").alias("prev_cent"))
        .join(fresh, "cid", "left")
        .select("cid", F.coalesce("cent", "prev_cent").alias("cent"))
    )


def _fit_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERS-round Lloyd fit: seed, then (assign → update) with a
    per-round stage barrier — the single shared loop behind both the
    oracled full-fit query and the warm model face, so an ITERS/K or
    barrier change can't diverge the two.

    Each round's centroid table (k rows) is a stage barrier — the
    same once-per-round discipline as the CC loop in
    operators/graph.py. Iteration i's plan nests BOTH uses of
    iteration i-1's centroids (assignment and the keep-old join), a
    ~2^ITERS blow-up in the logical tree; locally Spark's
    ReusedExchange already dedups the identical subtrees (measured:
    no wall-clock change at sf0.1), but the checkpoint makes the
    once-per-round guarantee structural — O(k·dims) bytes of state —
    instead of leaning on an optimizer heuristic whose reuse
    detection is plan-shape-sensitive."""
    return _fit_rounds(_qvec_materialized(spark, sf_dir))


def _qvec_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantized feature table, materialized ONCE per fit at the
    deployment's shuffle width: the Lloyd loop
    consumes qvec in every round plus the seed and the final
    assignment — 4+ re-derivations of scan+quantize per fit, each a
    single map task on the one-row-group fixture. One fan-out + stage
    barrier feeds every consumer parallel partitions instead (A/B at
    sf0.1: 2.96 → 1.88 s min-of-medians; barrier-only arm 2.16 — the
    width matters). At 100 TB this is
    the quantize-at-ingest feature artifact a production fit holds
    anyway; width follows barrier_width, never a local constant.
    Value-neutral: seeding sorts on (md5, vec_id) total order and
    assign/update are partitioning-independent."""
    from project_orbit_spark.catalog import barrier_width

    q = quantized_vectors(spark, sf_dir)
    return stage(q.repartition(barrier_width(q)), "kmeans.qvec")


def _fit_rounds(qvec: DataFrame) -> DataFrame:
    cents = stage(seed_centroids(qvec), "kmeans.seed")
    for _ in range(ITERS - 1):
        cents = stage(update_centroids(assign_clusters(qvec, cents), cents), "kmeans.round")
    return cents


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id) after ITERS Lloyd rounds (see
    _fit_centroids for the loop's checkpoint discipline). The fit and
    the final assignment share ONE materialized qvec."""
    qvec = _qvec_materialized(spark, sf_dir)
    cents = _fit_rounds(qvec)
    return assign_clusters(qvec, cents).select(
        "vec_id", F.col("cid").alias("cluster_id")
    )


# The oracle mirrors the pipeline iteration-by-iteration: same
# quantization, same (md5, vec_id) seeds, same sequential-fold
# distances (list_reduce ≡ F.aggregate), same exact-integer means.
_DUCK_KMEANS = """
        qv AS (
          SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> CAST(round(x * 1000) AS BIGINT)) AS q
          FROM embeddings
        ),
        c0 AS (
          SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid,
                 list_transform(q, x -> CAST(x AS DOUBLE)) AS cent
          FROM qv
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT 8
        ),
        a1 AS (
          SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_reduce(
                       list_transform(range(1, len(v.q) + 1),
                         i -> (CAST(v.q[i] AS DOUBLE) - c.cent[i])
                            * (CAST(v.q[i] AS DOUBLE) - c.cent[i])),
                       (x, y) -> x + y),
                     c.cid) AS rn
            FROM qv v CROSS JOIN c0 c
          ) WHERE rn = 1
        ),
        c1 AS (
          SELECT p.cid, coalesce(f.cent, p.cent) AS cent
          FROM c0 p LEFT JOIN (
            SELECT cid, list(cval ORDER BY dim) AS cent FROM (
              SELECT cid, dim,
                     CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cval
              FROM (SELECT cid, i AS dim, q[i] AS v
                    FROM a1, UNNEST(range(1, len(q) + 1)) AS t(i))
              GROUP BY cid, dim
            ) GROUP BY cid
          ) f ON p.cid = f.cid
        ),
        a2 AS (
          SELECT vec_id, q, cid FROM (
            SELECT v.vec_id, v.q, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_reduce(
                       list_transform(range(1, len(v.q) + 1),
                         i -> (CAST(v.q[i] AS DOUBLE) - c.cent[i])
                            * (CAST(v.q[i] AS DOUBLE) - c.cent[i])),
                       (x, y) -> x + y),
                     c.cid) AS rn
            FROM qv v CROSS JOIN c1 c
          ) WHERE rn = 1
        ),
        c2 AS (
          SELECT p.cid, coalesce(f.cent, p.cent) AS cent
          FROM c1 p LEFT JOIN (
            SELECT cid, list(cval ORDER BY dim) AS cent FROM (
              SELECT cid, dim,
                     CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS cval
              FROM (SELECT cid, i AS dim, q[i] AS v
                    FROM a2, UNNEST(range(1, len(q) + 1)) AS t(i))
              GROUP BY cid, dim
            ) GROUP BY cid
          ) f ON p.cid = f.cid
        ),
        a3 AS (
          SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_reduce(
                       list_transform(range(1, len(v.q) + 1),
                         i -> (CAST(v.q[i] AS DOUBLE) - c.cent[i])
                            * (CAST(v.q[i] AS DOUBLE) - c.cent[i])),
                       (x, y) -> x + y),
                     c.cid) AS rn
            FROM qv v CROSS JOIN c2 c
          ) WHERE rn = 1
        )
"""


@register(
    "kmeans_embedding_clusters",
    bench=True,
    tags=("similarity", "cluster", "iterative", "embedding"),
    doc="Deterministic Lloyd k-means (k=8, 3 fixed rounds) over the "
    "embedding corpus: hash-seeded init, integer-quantized exact "
    "mean updates, map-only broadcast assignment. The unsupervised "
    "counterpart of the per-label IVF centroid table "
    "(similarity/cosine.py::centroids) and the clustering stage the "
    "cluster-balanced curation ops build on.",
    oracle=f"""
        WITH {_DUCK_KMEANS}
        SELECT vec_id, cid AS cluster_id FROM a3 ORDER BY vec_id
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_assignments(spark, sf_dir).orderBy("vec_id")


@register(
    "cluster_balanced_sample",
    tags=("corpus", "cluster", "sampling"),
    doc="Cluster-balanced quota sample: k-means the corpus, then keep "
    "the 20 hash-smallest vectors per cluster — the per-cluster "
    "balancing step of cluster-then-sample data mixing, with the "
    "hash order standing in for the per-cluster score ranking a "
    "production mix would use. Deterministic end to end (no RNG, "
    "hygiene rule).",
    oracle=f"""
        WITH {_DUCK_KMEANS}
        SELECT cluster_id, vec_id, rank FROM (
          SELECT cid AS cluster_id, vec_id,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rank
          FROM a3
        ) WHERE rank <= 20
        ORDER BY cluster_id, rank
    """,
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = kmeans_assignments(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SAMPLE_PER_CLUSTER)
        .select("cluster_id", "vec_id", "rank")
        .orderBy("cluster_id", "rank")
    )


def warm_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINAL 3-round centroid table, a session artifact
    (``session.memo``) — at 100 TB the cluster model is a stored index
    artifact refreshed offline. The incremental face below assigns NEW
    vectors against it in O(new) without touching the corpus the model
    was fit on."""
    return memo(spark, ("kmeans_centroids", sf_dir), lambda: _fit_centroids(spark, sf_dir))


def assign_batch(batch: DataFrame, cents: DataFrame) -> DataFrame:
    """Incremental O(new) assignment: (vec_id, embedding) batch →
    (vec_id, cluster_id) against a fitted centroid table. Map-only —
    the centroid pack broadcasts, the batch never joins the corpus.
    Driver-checked via kmeans_incremental_assign; the agrees-with-
    full-fit contract is pinned by tests/test_clustering.py."""
    q = batch.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * QSCALE, 0).cast("long"),
        ).alias("q"),
    )
    return assign_clusters(q, cents).select(
        "vec_id", F.col("cid").alias("cluster_id")
    )


@register(
    "kmeans_incremental_assign",
    bench=True,
    tags=("similarity", "cluster", "incremental", "embedding"),
    doc="Incremental k-means assignment — the O(new) daily-batch face "
    "of the clustering stage, completing the incremental family "
    "(minhash band / vector / span index): an incoming batch "
    "(every-25th vector cloned at vec_id+10000, the "
    "incremental_embedding_dedup convention) is assigned against the "
    "PERSISTED warm centroid model in one map-only pass — the 8-row "
    "model broadcasts as a packed single row, the fitted corpus is "
    "never rejoined. At 100 TB the model is a stored index artifact "
    "refreshed offline; per-batch cost is O(new·k·dims) with zero "
    "shuffle. The oracle refits the same 3 deterministic Lloyd "
    "rounds and assigns the batch against the final centroids, so "
    "the whole incremental path is hash-checked. Prepare hook warms "
    "the model outside the bench timer.",
    oracle=f"""
        WITH {_DUCK_KMEANS},
        new_batch AS (
          SELECT vec_id + 10000 AS new_id, q
          FROM qv WHERE vec_id % 25 = 0
        )
        SELECT new_id, cid AS cluster_id FROM (
          SELECT b.new_id, c.cid,
                 row_number() OVER (PARTITION BY b.new_id ORDER BY
                   list_reduce(
                     list_transform(range(1, len(b.q) + 1),
                       i -> (CAST(b.q[i] AS DOUBLE) - c.cent[i])
                          * (CAST(b.q[i] AS DOUBLE) - c.cent[i])),
                     (x, y) -> x + y),
                   c.cid) AS rn
          FROM new_batch b CROSS JOIN c2 c
        ) WHERE rn = 1
        ORDER BY new_id
    """,
    prepare=warm_kmeans_centroids,
)
def kmeans_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 25 == 0)
        .select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    cents = warm_kmeans_centroids(spark, sf_dir)
    return (
        assign_batch(batch, cents)
        .select(F.col("vec_id").alias("new_id"), "cluster_id")
        .orderBy("new_id")
    )
