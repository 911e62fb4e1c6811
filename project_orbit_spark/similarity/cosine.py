"""Embedding similarity: exact cosine top-k, blocked near-dup pairs,
nearest-centroid assignment, and IVF-style approximate search.

Re-expresses SURVEY.md §2.8 — the reference's Pinecone cosine top-k
retrieval (E2, src/services/embeddings.py:136-141,204-235) and
company-filtered over-fetch (W1, src/rag_pipeline.py:45-75) — plus
the ANN scale path the reference delegates to a vector DB.

Numeric contract: dot products accumulate sequentially in float64
(F.aggregate over zip_with), which is bit-identical to DuckDB's
list_cosine_similarity over DOUBLE[] — verified empirically — so
cosine scores can be oracle-checked after a defensive round(…, 6).

Scale notes (100 TB): the exact path broadcasts the (small) query
set and streams the corpus — one pass, no shuffle. The IVF path
prunes the corpus to the query's nearest centroid bucket before
scoring (the blocked-similarity pattern from SURVEY §4: repartition
by bucket, never a global cross join). Centroids are rounded to 6dp
so float summation order can't leak into results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load, sort_bounded
from project_orbit_spark.registry import register
from project_orbit_spark.session import memo

# ---------------------------------------------------------------------------
# numeric primitives (all sequential float64 — engine-portable)


def as_double(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, v: s + v)
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int, q_vec: str = "qe", c_vec: str = "ce"
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, stream the corpus,
    rank per query. The W1 primitive with the reference's over-fetch
    hack made unnecessary (filters belong *below* the rank). The
    ``rank <= k`` filter over the per-qid ``row_number`` plans a
    partial WindowGroupLimit below the qid exchange, so each map
    partition ships at most k rows per query (docs/SCALE.md "Top-k
    faces"); ``cid`` breaks score ties, so the order is total."""
    scored = F.broadcast(queries).join(corpus, F.col("qid") != F.col("cid")).select(
        "qid", "cid", cosine(F.col(q_vec), F.col(c_vec)).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keeps the raw float column alongside the double view: centroids()
    # explodes the RAW column (see its docstring for why)
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", as_double("embedding").alias("emb")
    )


_DUCK_EMB = """
        emb AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb
          FROM embeddings
        )
"""


@register(
    "cosine_topk_exact",
    bench=True,
    tags=("similarity", "topk"),
    doc="E2/W1 exact cosine top-k retrieval (ref "
    "src/services/embeddings.py:204-235): 5 query vectors vs the "
    "full corpus, top-5 each, deterministic tie-break on corpus id.",
    oracle=f"""
        WITH {_DUCK_EMB},
        q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 5),
        scored AS (
          SELECT q.qid, e.vec_id AS cid,
                 list_cosine_similarity(q.qe, e.emb) AS score
          FROM q JOIN emb e ON q.qid != e.vec_id
        )
        SELECT qid, cid, round(score, 6) AS score, rank
        FROM (
          SELECT qid, cid, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
          FROM scored
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("emb").alias("qe"))
    c = e.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    top = brute_force_topk(q, c, k=5).select(
        "qid", "cid", F.round("score", 6).alias("score"), "rank"
    )
    # bound: rank-filtered top-k, 5 queries × k=5
    return sort_bounded(top, "qid", "rank")


# Fail-fast bound for the exact face (VERDICT r14 ask #3): the
# within-label join materializes n·(n-1)/2 pairs for a label of n
# rows, so the largest admissible label is a PAIR budget in disguise
# — 10k rows ≈ 50M scored pairs in one label, the edge of what one
# within-label join should ever be asked to do. The r14 100× probe
# measured the failure mode this enforces: coarse fixed labels over
# a 500k-vector corpus (~50k rows/label ⇒ ~1.25e9 pairs/label) grind
# indefinitely. Past the bound the face REFUSES with a pointer to
# embedding_near_dup_bucketed instead of submitting the grind — the
# docstring contract made executable (enforced, not just documented).
EXACT_FACE_MAX_LABEL_ROWS = 10_000


def exact_near_dup_pairs(corpus: DataFrame) -> DataFrame:
    """embedding_near_dup_pairs' probe + within-label pair stage over
    an explicit (vec_id, label, emb) corpus — factored out so the
    refusal path is unit-testable (tests/test_properties.py). The
    probe is one bounded job in the maybe_broadcast discipline
    (catalog.py): a per-label count with an early-terminating
    limit(1) on labels past the bound — output rows bounded at 1, one
    map-side-combinable shuffle over the corpus, and it runs INSTEAD
    OF a quadratic join, not alongside it."""
    oversized = (
        corpus.groupBy("label")
        .count()
        .filter(F.col("count") > EXACT_FACE_MAX_LABEL_ROWS)
        .limit(1)
        .collect()
    )
    if oversized:
        row = oversized[0]
        raise ValueError(
            f"embedding_near_dup_pairs: label {row['label']!r} has "
            f"{row['count']} rows (> {EXACT_FACE_MAX_LABEL_ROWS}); the "
            "within-label exact join would materialize "
            "~n^2/2 pairs for that label. Use "
            "embedding_near_dup_bucketed (similarity/lsh.py), which "
            "adds the auto-width LSH sub-bucket to the blocking key "
            "and keeps expected bucket size constant."
        )
    a = corpus.alias("a")
    b = corpus.alias("b")
    score = F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6)
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("left_id"),
            F.col("b.vec_id").alias("right_id"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 0.999)
        .orderBy("left_id", "right_id")
    )


@register(
    "embedding_near_dup_pairs",
    tags=("similarity", "dedup"),
    doc="E4 embedding-cosine near-dup detection over a dup-injected "
    "corpus (every 25th vector cloned at vec_id+10000): pairs with "
    "cosine ≥ 0.999, blocked by cluster label — the EXACT face, "
    "lossless but quadratic WITHIN each label (the round-14 100x "
    "probe measured exactly that: with coarse fixed labels the "
    "within-label join grinds at a 100x corpus). Sound when label "
    "cardinality scales with the corpus (fine-grained clustering); "
    "ENFORCED r15 (VERDICT r14 ask #3): a bounded per-label count "
    "probe fails fast past EXACT_FACE_MAX_LABEL_ROWS with a pointer "
    "to embedding_near_dup_bucketed (similarity/lsh.py), which adds "
    "the auto-width LSH sub-bucket to the blocking key and keeps "
    "expected bucket size constant.",
    oracle=f"""
        WITH {_DUCK_EMB},
        corpus AS (
          SELECT vec_id, label, emb FROM emb
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, label, emb FROM emb WHERE vec_id % 25 = 0
        )
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               round(list_cosine_similarity(a.emb, b.emb), 6) AS score
        FROM corpus a
        JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.999
        ORDER BY left_id, right_id
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    dups = e.filter(F.col("vec_id") % 25 == 0).withColumn("vec_id", F.col("vec_id") + 10000)
    return exact_near_dup_pairs(
        e.unionByName(dups).select("vec_id", "label", "emb")
    )


def centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid vectors, each dimension rounded to 6dp so
    cross-engine / cross-run float summation order is irrelevant.
    Explode → partial-aggregated avg per (label, dim) → reassemble.

    The cast-to-double happens AFTER the explode: exploding the
    derived ``emb`` column would let Generate re-inline the array
    transform and re-evaluate the O(dim) cast per output row
    (O(dim²) per vector — the CollapseProject trap again)."""
    src = emb.select("label", F.posexplode("embedding").alias("dim", "fval")) if (
        "embedding" in emb.columns
    ) else emb.select("label", F.posexplode("emb").alias("dim", "fval"))
    return (
        src.select("label", "dim", F.col("fval").cast("double").alias("val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cval"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda s: s["cval"]
            ).alias("cvec")
        )
    )


_DUCK_CENTROIDS = """
        centroids AS (
          SELECT label, list(cval ORDER BY dim) AS cvec
          FROM (
            SELECT label, i AS dim, round(avg(emb[i]), 6) AS cval
            FROM emb, UNNEST(range(1, len(emb) + 1)) AS t(i)
            GROUP BY label, i
          )
          GROUP BY label
        )
"""


@register(
    "nearest_centroid_assign",
    tags=("similarity", "cluster"),
    doc="Nearest-centroid assignment (the rows-only 'label check' from "
    "FIXTURES.md §vector-store made exact): per-label centroids, then "
    "every 10th vector assigned to its nearest centroid by euclidean "
    "distance; emits whether the assignment recovers the true label.",
    oracle=f"""
        WITH {_DUCK_EMB},
        {_DUCK_CENTROIDS},
        sample_vecs AS (SELECT * FROM emb WHERE vec_id % 10 = 0),
        scored AS (
          SELECT v.vec_id, v.label AS true_label, c.label AS cand_label,
                 round(list_distance(v.emb, c.cvec), 6) AS dist
          FROM sample_vecs v CROSS JOIN centroids c
        )
        SELECT vec_id, true_label, cand_label AS assigned_label,
               dist, CAST(true_label = cand_label AS BIGINT) AS is_match
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, cand_label) AS rn
          FROM scored
        ) t
        WHERE rn = 1
        ORDER BY vec_id
    """,
)
def nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cent = centroids(e)
    sample = e.filter(F.col("vec_id") % 10 == 0)
    scored = sample.crossJoin(F.broadcast(cent.withColumnRenamed("label", "cand_label"))).select(
        "vec_id",
        F.col("label").alias("true_label"),
        "cand_label",
        F.round(euclidean(F.col("emb"), F.col("cvec")), 6).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cand_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "true_label",
            F.col("cand_label").alias("assigned_label"),
            "dist",
            (F.col("true_label") == F.col("cand_label")).cast("long").alias("is_match"),
        )
        .orderBy("vec_id")
    )


_IVF_ORACLE = f"""
        WITH {_DUCK_EMB},
        {_DUCK_CENTROIDS},
        q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 5),
        routed AS (
          SELECT qid, qe, bucket FROM (
            SELECT q.qid, q.qe, c.label AS bucket,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY list_distance(q.qe, c.cvec), c.label) AS rn
            FROM q CROSS JOIN centroids c
          ) WHERE rn = 1
        )
        SELECT qid, bucket, cid, round(score, 6) AS score, rank
        FROM (
          SELECT r.qid, r.bucket, e.vec_id AS cid,
                 list_cosine_similarity(r.qe, e.emb) AS score,
                 row_number() OVER (
                   PARTITION BY r.qid
                   ORDER BY list_cosine_similarity(r.qe, e.emb) DESC, e.vec_id) AS rank
          FROM routed r JOIN emb e
            ON e.label = r.bucket AND e.vec_id != r.qid
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """


def _packed_cents(cent: DataFrame) -> DataFrame:
    """1-row packed centroid table — sorted (bucket, cvec) structs —
    the route table the map-side routing broadcasts (bucket is unique,
    so the sort is just packing determinism). Over zero centroids the
    one row holds an empty array, which routes every query to a NULL
    bucket and so to no rows."""
    return cent.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("label").alias("bucket"), F.col("cvec"))
            )
        ).alias("route_cs")
    )


def _route_dists():
    """Per-query (d, bucket) structs over the packed broadcast
    centroids: struct comparison is field-lexicographic, so array_min
    / ascending array_sort over these reproduces the routing window's
    ORDER BY dist, bucket bit-for-bit."""
    return F.transform(
        "route_cs",
        lambda c: F.struct(
            euclidean(F.col("qe"), c["cvec"]).alias("d"),
            c["bucket"].alias("bucket"),
        ),
    )


def ivf_topk(e: DataFrame, route: DataFrame, recon: DataFrame | None = None) -> DataFrame:
    """IVF core against a caller-supplied route table (``_packed_cents``
    over the centroids): route each query to its nearest centroid,
    cosine within that bucket only (nprobe=1). With ``recon`` — a
    (vec_id, label, recon) frame — bucket members score against their
    PQ reconstructions instead of raw vectors — the asymmetric-distance
    IVF-PQ read path; the routing, tie-break, rank, and rounding
    contract stays single-source either way.

    ``recon`` is the bucket CORPUS side itself, not a side table joined
    back by vec_id: both recon producers carry (vec_id, label, recon)
    map-only (see pq_reconstructions), so the bucket probe is ONE
    broadcast join against whichever table holds the scoring vectors,
    with no corpus-wide vec_id exchange."""
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("emb").alias("qe"))
    # routing is map-side: array_min over the broadcast 1-row route
    # table (the _pq_chosen / assign_clusters discipline), no per-row
    # centroid cross join into a window. struct(d, bucket) compares
    # field-lexicographically, so the tie-break is ORDER BY dist, bucket.
    routed = q.crossJoin(F.broadcast(route)).select(
        "qid", "qe", F.array_min(_route_dists())["bucket"].alias("bucket")
    )
    corpus = (
        recon.select("vec_id", "label", F.col("recon").alias("tvec"))
        if recon is not None
        else e.select("vec_id", "label", F.col("emb").alias("tvec"))
    )
    bucket = F.broadcast(routed).join(
        corpus,
        (corpus["label"] == F.col("bucket")) & (corpus["vec_id"] != F.col("qid")),
    )
    scored = bucket.select(
        "qid", "bucket", F.col("vec_id").alias("cid"), cosine(F.col("qe"), F.col("tvec")).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    top = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "bucket", "cid", F.round("score", 6).alias("score"), "rank")
    )
    # bound: rank-filtered top-k, 5 queries × k=5
    return sort_bounded(top, "qid", "rank")


@register(
    "ann_ivf_topk",
    bench=True,
    tags=("similarity", "ann"),
    doc="IVF-style approximate top-k (the 100 TB path for E2): route "
    "each query to its nearest centroid, then exact cosine only "
    "within that bucket (nprobe=1). Same algorithm declared in SQL, "
    "so the oracle reproduces the approximation deterministically; "
    "recall vs brute force is a tested property, not hash-checked. "
    "Centroids are derived inline here (cold path); the _warm twin "
    "measures the amortized cost with a persisted route table.",
    oracle=_IVF_ORACLE,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return ivf_topk(e, _packed_cents(centroids(e)))


def warm_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The centroid table in its serving form, the packed 1-row route
    table (``_packed_cents``), a session artifact (``session.memo``):
    at 100 TB centroids are a stored index artifact refreshed offline,
    not something each query re-derives from the full corpus (a
    posexplode of every vector) or re-packs through a single-partition
    exchange. The one memo every warm IVF face routes off."""
    return memo(
        spark, ("centroids", sf_dir), lambda: _packed_cents(centroids(_emb(spark, sf_dir)))
    )


@register(
    "ann_ivf_nprobe2",
    tags=("similarity", "ann"),
    doc="IVF top-k with nprobe=2 (the recall knob the 100 TB path "
    "actually turns): each query unions its TWO nearest centroid "
    "buckets before the exact cosine — recall rises toward brute "
    "force at ~2× the probe cost, still never a global scan. Routing "
    "stays a broadcast of the centroid table.",
    oracle=f"""
        WITH {_DUCK_EMB},
        {_DUCK_CENTROIDS},
        q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 5),
        routed AS (
          SELECT qid, qe, bucket FROM (
            SELECT q.qid, q.qe, c.label AS bucket,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY list_distance(q.qe, c.cvec), c.label) AS rn
            FROM q CROSS JOIN centroids c
          ) WHERE rn <= 2
        )
        SELECT qid, bucket, cid, round(score, 6) AS score, rank
        FROM (
          SELECT r.qid, r.bucket, e.vec_id AS cid,
                 list_cosine_similarity(r.qe, e.emb) AS score,
                 row_number() OVER (
                   PARTITION BY r.qid
                   ORDER BY list_cosine_similarity(r.qe, e.emb) DESC, e.vec_id) AS rank
          FROM routed r JOIN emb e
            ON e.label = r.bucket AND e.vec_id != r.qid
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cent = centroids(e)
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("emb").alias("qe"))
    # map-side routing (see ivf_topk): the two nearest buckets are the
    # first two entries of the ascending (d, bucket) sort, exploded
    routed = (
        q.crossJoin(F.broadcast(_packed_cents(cent)))
        .select(
            "qid",
            "qe",
            F.explode(F.slice(F.array_sort(_route_dists()), 1, 2)).alias("rt"),
        )
        .select("qid", "qe", F.col("rt.bucket").alias("bucket"))
    )
    scored = F.broadcast(routed).join(
        e, (e.label == F.col("bucket")) & (e.vec_id != F.col("qid"))
    ).select(
        "qid", "bucket", F.col("vec_id").alias("cid"), cosine(F.col("qe"), F.col("emb")).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    top = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "bucket", "cid", F.round("score", 6).alias("score"), "rank")
    )
    # bound: rank-filtered top-k, 5 queries × k=5
    return sort_bounded(top, "qid", "rank")


@register(
    "ann_ivf_topk_warm",
    bench=True,
    tags=("similarity", "ann"),
    doc="ann_ivf_topk with the centroid table persisted ahead of time "
    "in its packed 1-row route form (registry prepare hook → bench.py "
    "runs it outside the timer): measures the steady-state IVF probe "
    "cost alone. Same output, same oracle as the cold twin.",
    oracle=_IVF_ORACLE,
    prepare=warm_centroids,
)
def ann_ivf_topk_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(_emb(spark, sf_dir), warm_centroids(spark, sf_dir))


@register(
    "label_centroids_udaf",
    tags=("similarity", "cluster", "pandas_udf"),
    doc="Per-label centroids via a grouped-agg pandas UDF (Arrow "
    "UDAF): element-wise vector mean is not a built-in aggregate, so "
    "this is the one aggregation in the surface that genuinely wants "
    "numpy — np.stack + mean(axis=0) per label group. Completes the "
    "SURVEY §2.10 UDF matrix (scalar pandas_udf, mapInPandas, "
    "applyInPandas[WithState], and now GROUPED_AGG). Same result as "
    "the SQL-ops centroid builder (cosine.py::centroids); one shuffle "
    "on label, Arrow-batched per group. Output is exploded to "
    "(label, dim, value) scalar rows: the driver's canonicalizer "
    "sorts result frames with pandas sort_values, which cannot "
    "factorize list-valued cells — scalar rows keep the same "
    "information driver-sortable.",
    oracle=f"""
        WITH {_DUCK_EMB},
        {_DUCK_CENTROIDS}
        SELECT label, i - 1 AS dim, cvec[i] AS value
        FROM centroids, UNNEST(range(1, len(cvec) + 1)) AS t(i)
        ORDER BY label, dim
    """,
)
def label_centroids_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.similarity.udafs import vec_mean

    e = _emb(spark, sf_dir)
    return (
        e.groupBy("label")
        .agg(vec_mean("emb").alias("centroid"))
        .select("label", F.posexplode("centroid").alias("dim", "value"))
        .select("label", F.col("dim").cast("long").alias("dim"), "value")
        .orderBy("label", "dim")
    )



# ---------------------------------------------------------------------------
# IVF-PQ: product-quantized scoring inside the routed bucket.
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (embeddings fixture is 64-dim)


def _pq_sub(e: DataFrame) -> DataFrame:
    """(vec_id, label, s, subv): each vector split into _PQ_M
    contiguous subvectors."""
    return e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.array(*[F.slice("emb", s * _PQ_DSUB + 1, _PQ_DSUB) for s in range(_PQ_M)])
        ).alias("s", "subv"),
    )


def pq_codebook(e: DataFrame) -> DataFrame:
    """PQ codebook, oracle-deterministically: the codeword for
    (subspace s, code_label) is the per-label mean subvector with
    components rounded 6dp (the centroids() discipline). Label-derived
    codewords instead of k-means training keep the build
    SQL-expressible and so hash-checkable. Bounded: _PQ_M × n_labels
    rows — always a broadcast side."""
    return (
        _pq_sub(e)
        .select("s", "label", F.posexplode("subv").alias("dim", "val"))
        .groupBy("s", "label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("cval"))
        .groupBy("s", "label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cval"))), lambda x: x["cval"]
            ).alias("cw")
        )
        .withColumnRenamed("label", "code_label")
    )


def _pq_chosen(codebook: DataFrame):
    """(packed 1-row codebook DF, chosen-codeword expression): for an
    ``emb`` row, an array of _PQ_M structs (code, cw) — the nearest
    codeword per subspace (euclidean, code_label tie-break), picked
    MAP-SIDE via array_min over the packed broadcast codebook. r17
    (guide §2.3/§2.4): the former encode path shuffled the _PQ_M-way
    exploded subvectors into a row_number window (one exchange + sort
    over corpus×_PQ_M rows) — at 100 TB the encode step is a pure map
    over the broadcast codebook, and now it is one here too. array_min
    on struct(d, code, cw) compares fields left-to-right, so the
    (dist, code_label) tie-break is bit-identical to the old window's
    ORDER BY dist, code_label (code_label is unique within a
    subspace, so cw never participates)."""
    pack = codebook.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("s", "code_label", "cw"))).alias(
            "pq_cs"
        )
    )
    chosen = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda s: F.array_min(
            F.transform(
                F.filter("pq_cs", lambda c: c["s"] == s),
                lambda c: F.struct(
                    euclidean(
                        F.slice("emb", s * _PQ_DSUB + 1, _PQ_DSUB), c["cw"]
                    ).alias("d"),
                    c["code_label"].alias("code"),
                    c["cw"].alias("cw"),
                ),
            )
        ),
    )
    return pack, chosen


def pq_reconstructions(e: DataFrame, codebook: DataFrame | None = None, codes: DataFrame | None = None) -> DataFrame:
    """(vec_id, label, recon): codewords looked up from the
    (broadcast) codebook by stored code id, concatenated in subspace
    order — query-time decode of the compressed index, the
    asymmetric-distance read path. Callers pass the persisted PACKED
    codes table (vec_id, label, codes[s]=code — see warm_pq_index)
    plus the codebook for the warm (serving) path; defaults rebuild
    both inline (cold path). Either way the decode is MAP-ONLY over a
    1-row broadcast of the packed codebook (r18, guide §2.4: the old
    warm decode shuffled the (vec_id, s, code) rows into a
    groupBy(vec_id) regroup — one corpus-wide exchange per query that
    a per-vector packed artifact never needs), and the output carries
    ``label`` so ivf_topk can bucket-probe it directly without a
    corpus-wide vec_id join-back."""
    cb = codebook if codebook is not None else pq_codebook(e)
    if codes is None:
        # cold path, r17 (guide §2.4): choose + reconstruct in ONE
        # map-only pass over the broadcast packed codebook — the old
        # path materialized (vec_id, s, code) rows, joined them back
        # to the codebook and re-grouped by vec_id (two exchanges the
        # serving read never needs when the codes aren't persisted).
        pack, chosen = _pq_chosen(cb)
        return (
            e.crossJoin(F.broadcast(pack))
            .select(
                "vec_id",
                "label",
                F.flatten(
                    F.transform(chosen, lambda ch: ch["cw"])
                ).alias("recon"),
            )
        )
    # warm path: decode the PERSISTED packed codes artifact — each
    # row's codes[s] picks its codeword from the 1-row broadcast
    # packed codebook; flatten in s order reproduces the exact recon
    # doubles the old regroup produced (same cw arrays, same order).
    pack = cb.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("s", "code_label", "cw"))).alias(
            "pq_cs"
        )
    )
    decode = F.flatten(
        F.transform(
            "codes",
            lambda code, s: F.element_at(
                F.transform(
                    F.filter(
                        "pq_cs",
                        lambda c: (c["s"] == s) & (c["code_label"] == code),
                    ),
                    lambda c: c["cw"],
                ),
                1,
            ),
        )
    )
    return codes.crossJoin(F.broadcast(pack)).select(
        "vec_id", "label", decode.alias("recon")
    )


_PQ_ORACLE = f"""
        WITH {_DUCK_EMB},
        {_DUCK_CENTROIDS},
        sub AS (
          SELECT vec_id, label, s, emb[s*{_PQ_DSUB}+1 : s*{_PQ_DSUB}+{_PQ_DSUB}] AS subv
          FROM emb, UNNEST([0,1,2,3]) AS t(s)
        ),
        codebook AS (
          SELECT s, label AS code_label, list(cval ORDER BY dim) AS cw
          FROM (
            SELECT s, label, i AS dim, round(avg(subv[i]), 6) AS cval
            FROM sub, UNNEST(range(1, {_PQ_DSUB} + 1)) AS t(i)
            GROUP BY s, label, i
          )
          GROUP BY s, label
        ),
        codes AS (
          SELECT vec_id, s, cw FROM (
            SELECT v.vec_id, v.s, c.cw,
                   row_number() OVER (PARTITION BY v.vec_id, v.s
                     ORDER BY list_distance(v.subv, c.cw), c.code_label) AS rn
            FROM sub v JOIN codebook c USING (s)
          ) WHERE rn = 1
        ),
        recon AS (
          SELECT vec_id, flatten(list(cw ORDER BY s)) AS recon
          FROM codes GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 5),
        routed AS (
          SELECT qid, qe, bucket FROM (
            SELECT q.qid, q.qe, c.label AS bucket,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY list_distance(q.qe, c.cvec), c.label) AS rn
            FROM q CROSS JOIN centroids c
          ) WHERE rn = 1
        )
        SELECT qid, bucket, cid, round(score, 6) AS score, rank
        FROM (
          SELECT r.qid, r.bucket, e.vec_id AS cid,
                 list_cosine_similarity(r.qe, rc.recon) AS score,
                 row_number() OVER (
                   PARTITION BY r.qid
                   ORDER BY list_cosine_similarity(r.qe, rc.recon) DESC, e.vec_id) AS rank
          FROM routed r
          JOIN emb e ON e.label = r.bucket AND e.vec_id != r.qid
          JOIN recon rc ON rc.vec_id = e.vec_id
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """


@register(
    "ann_ivf_pq_topk",
    bench=True,
    tags=("similarity", "ann", "pq"),
    doc="IVF-PQ approximate top-k — the memory tier the 100 TB ANN "
    "path actually ships (FAISS-style): route each query to its "
    "nearest coarse centroid (broadcast), then score the bucket "
    "against PRODUCT-QUANTIZED reconstructions instead of raw "
    "vectors (asymmetric distance: raw query x quantized corpus). "
    "Codebooks are label-derived per subspace (see "
    "pq_reconstructions) so the whole build + search is declared in "
    "SQL too and the approximation is hash-checked, not just "
    "rows-only; quantization loss vs exact IVF is bounded in "
    "tests/test_pq.py. Same output shape as ann_ivf_topk. Ties from "
    "identical reconstructions (vectors sharing all 4 codewords) "
    "break deterministically on cid in both engines.",
    oracle=_PQ_ORACLE,
)
def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return ivf_topk(e, _packed_cents(centroids(e)), recon=pq_reconstructions(e))


def warm_pq_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The PQ index as one (codebook, codes) session artifact
    (``session.memo``): the bounded codebook and the PACKED codes table
    (vec_id, label, codes: _PQ_M small ints in subspace order — the
    64×-compressed artifact, stored contiguous per vector exactly as
    FAISS lays out PQ codes). At 100 TB codebooks train offline and vectors
    encode at ingest; the steady-state query cost is routing +
    codeword lookup + one bucket of asymmetric scoring, which is what
    the _warm twin times. Persisting materialized reconstructions
    instead would store 64 doubles per vector — twice the RAW float32
    vectors — defeating the point of PQ. One packed row per vector,
    carrying ``label``, so the decode pays no groupBy(vec_id) regroup
    per query and the bucket probe does not join back to the raw table
    (see pq_reconstructions / ivf_topk); the encode is the map-only
    pass (_pq_chosen). The codebook is persisted in the build, so the
    codes table reads it."""

    def build() -> tuple[DataFrame, DataFrame]:
        cb = pq_codebook(_emb(spark, sf_dir)).persist()
        pack, chosen = _pq_chosen(cb)
        cd = _emb(spark, sf_dir).crossJoin(F.broadcast(pack)).select(
            "vec_id", "label", F.transform(chosen, lambda ch: ch["code"]).alias("codes")
        )
        return cb, cd

    return memo(spark, ("pq_index", sf_dir), build)


def warm_pq_face(spark: SparkSession, sf_dir: str) -> None:
    """Prepare hook of the warm PQ face: its coarse centroids and its
    PQ index."""
    warm_centroids(spark, sf_dir)
    warm_pq_index(spark, sf_dir)


@register(
    "ann_ivf_pq_topk_warm",
    bench=True,
    tags=("similarity", "ann", "pq"),
    doc="ann_ivf_pq_topk with the PQ index (codes + codebook) AND "
    "coarse centroids persisted ahead of time (prepare hook, outside "
    "the bench timer): measures the steady-state IVF-PQ serving cost "
    "alone — routing, codeword lookup from the compressed codes, one "
    "bucket of asymmetric scoring. Same output, same oracle as the "
    "cold twin.",
    oracle=_PQ_ORACLE,
    prepare=warm_pq_face,
)
def ann_ivf_pq_topk_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cb, cd = warm_pq_index(spark, sf_dir)
    return ivf_topk(
        e,
        warm_centroids(spark, sf_dir),
        recon=pq_reconstructions(e, codebook=cb, codes=cd),
    )


# ---------------------------------------------------------------------------
# Matryoshka funnel retrieval (public: Kusupati et al. 2022, MRL;
# the truncate-then-rerank serving pattern OpenAI/Nomic document for
# dimension-truncatable embeddings).
# ---------------------------------------------------------------------------

MRL_TRUNC_DIM = 32  # leading dims scored in the cheap pass (of 64)
MRL_SHORTLIST = 100  # truncated-scan shortlist size per query


@register(
    "matryoshka_funnel_topk",
    tags=("similarity", "ann", "topk"),
    doc="Matryoshka funnel retrieval (MRL, Kusupati et al. 2022): a "
    "cheap pass scores every corpus vector on only its LEADING 32 of "
    "64 dims (a 2x cheaper scan), keeps a 100-deep shortlist per "
    "query, then reranks ONLY the shortlist at full dimension for "
    "the final top-5. The fixture's RANDOM vectors are the "
    "adversarial case for prefix truncation — no trained "
    "dimension-importance ordering — and the funnel still holds "
    "recall@5 ~0.9 at these settings (pinned >=0.6 in tests); "
    "MRL-trained embeddings put most of the signal in the prefix, "
    "which is what makes 4-8x truncation work in production. "
    "Output carries both scores so the funnel's agreement with the "
    "exact scan is auditable per row. "
    "Plan: broadcast the 5-query set, ONE corpus pass at prefix "
    "width, a per-qid shortlist rank whose trank <= 100 filter "
    "plans a partial WindowGroupLimit below the qid exchange (each "
    "map partition ships <= 100 rows per query — never a per-qid "
    "corpus funnel), then full-width scoring touches 100 rows per "
    "query — at 100 TB the full-dim read cost is O(k), not O(corpus). The "
    "truncated pass composes with the IVF router (route on prefix "
    "centroids) when a corpus scan itself is too much.",
    oracle=f"""
        WITH {_DUCK_EMB},
        q AS (SELECT vec_id AS qid, emb AS qe FROM emb WHERE vec_id < 5),
        coarse AS (
          SELECT q.qid, e.vec_id AS cid, q.qe, e.emb AS ce,
                 list_cosine_similarity(
                   q.qe[1:{MRL_TRUNC_DIM}],
                   e.emb[1:{MRL_TRUNC_DIM}]) AS tscore
          FROM q JOIN emb e ON q.qid != e.vec_id
        ),
        shortlist AS (
          SELECT qid, cid, qe, ce, tscore,
                 row_number() OVER (
                   PARTITION BY qid ORDER BY tscore DESC, cid) AS trank
          FROM coarse
        )
        SELECT qid, cid, round(tscore, 6) AS trunc_score,
               round(fscore, 6) AS full_score, rank
        FROM (
          SELECT qid, cid, tscore,
                 list_cosine_similarity(qe, ce) AS fscore,
                 row_number() OVER (
                   PARTITION BY qid
                   ORDER BY list_cosine_similarity(qe, ce) DESC, cid)
                   AS rank
          FROM shortlist WHERE trank <= {MRL_SHORTLIST}
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def matryoshka_funnel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    tscore = cosine(
        F.slice("qe", 1, MRL_TRUNC_DIM), F.slice("ce", 1, MRL_TRUNC_DIM)
    )
    coarse = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select("qid", "cid", "qe", "ce", tscore.alias("tscore"))
    )
    # the coarse pass scores the FULL corpus: the trank filter's
    # partial WindowGroupLimit keeps <= MRL_SHORTLIST rows per qid in
    # each map partition before the qid exchange
    wt = Window.partitionBy("qid").orderBy(F.desc("tscore"), F.asc("cid"))
    shortlist = (
        coarse.withColumn("trank", F.row_number().over(wt))
        .filter(F.col("trank") <= MRL_SHORTLIST)
        .drop("trank")
        .withColumn("fscore", cosine(F.col("qe"), F.col("ce")))
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("fscore"), F.asc("cid"))
    return (
        shortlist.withColumn("rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "qid",
            "cid",
            F.round("tscore", 6).alias("trunc_score"),
            F.round("fscore", 6).alias("full_score"),
            "rank",
        )
        .orderBy("qid", "rank")
    )
