"""Random-hyperplane (cosine) LSH — the LSH-bucketed ANN variant from
the brief, fully deterministic and oracle-checkable.

Hyperplanes are pseudo-random but engine-portable: component
h[p][d] = (md5_u32(p, d) / 2^32) - 0.5, derived identically in Spark
and DuckDB. A vector's bucket is the sign-bit string of its dot
products with the planes; candidates share a bucket, so search cost
is corpus/2^planes per query instead of the full corpus.

Scale path: one shuffle on bucket; per-bucket candidate sets stay
small and the hyperplane count tunes the recall/cost tradeoff (more
planes → smaller buckets, lower recall; classic SimHash-for-cosine).

Honesty note (measured on the fixture corpus at sf0.01): the
synthetic vectors are near-random, so single-table hyperplane signs
correlate weakly with top-k membership — recall@5 vs brute force is
5/40 at 3 planes (and ~0 at 6). That is correct LSH behavior on data
without strong neighborhood structure, not a bug. The standard cure
is multi-table LSH: `lsh_multitable_topk` unions candidates from
L=4 independent 3-plane tables (recall 1-(1-p^k)^L) and re-ranks
exactly — measured recall@5 rises 4× to 20/40 on the same fixture.
On this corpus the IVF variant (ann_ivf_topk), which exploits the
real cluster labels, is still the stronger approximate path; both
LSH faces remain exactly reproducible (same algorithm in the
oracle), with plane count and table count as the tuning knobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import barrier_width
from project_orbit_spark.registry import register
from project_orbit_spark.session import memo
from project_orbit_spark.similarity.cosine import _emb, as_double, cosine

# Broadcast ceiling for the incremental face's nightly BATCH of
# embeddings, counted in vectors. Narrower than dedup's band-row bound
# because each row carries the embedding array (~0.5-1 KB at realistic
# dims): 100k vectors ≈ ≤100 MB build. Same policy as
# dedup.INCREMENTAL_BATCH_BOUND (VERDICT r12 #6 / round-13 audit).
EMBED_BATCH_BROADCAST_BOUND = 100_000

N_PLANES = 3

# --- Self-scaling block width (SCALE.md round-8 operating rule) -----
#
# The (label, bucket) pair-blocking faces (SemDeDup, incremental
# embedding dedup, semantic decontamination) widen their LSH
# sub-bucket as the corpus grows: at a FIXED width both sides of
# every block fatten with the corpus, so within-block pair count
# bends quadratic across decades (measured r8: 11.2x at 30x -> 72.7x
# at 100x for SemDeDup at 4 planes). The rule is "hold
# corpus/2^planes per cluster roughly constant": 4 planes up to the
# calibration size, +1 plane per corpus doubling beyond it. The
# calibration point (12 500 vectors) is set so the fixture scales
# (500–2 000 vectors -> 4 planes, the registered oracle contract)
# stay at the base width, and the measured 100x probe corpus
# (200 000 vectors) derives exactly the 8 planes the r8 knob table
# found optimal (6.7x cheaper than fixed-4 at 97.0% near-dup recall).
PLANES_BASE = 4
PLANES_CALIB_ROWS = 12_500
# Headroom for the width-ADAPTIVE oracle form (_duck_auto_bucket):
# the oracle emits this many sign bits and keeps the derived-width
# prefix, so it tracks auto_planes exactly up to
# PLANES_CALIB_ROWS * 2^(PLANES_MAX - PLANES_BASE) = 3.2M vectors —
# orders of magnitude past any oracle-checked corpus (oracles run at
# sf <= 0.1; the 100x probes never run oracles).
PLANES_MAX = 12


def auto_planes(
    n_rows: int, base: int = PLANES_BASE, calib: int = PLANES_CALIB_ROWS
) -> int:
    """Derive the LSH sub-bucket width from the corpus size: ``base``
    planes up to ``calib`` rows, one more per doubling beyond,
    CLAMPED to PLANES_MAX. The clamp keeps Python and the SQL oracle
    agreeing by construction (ADVICE r10): _duck_auto_bucket can only
    emit PLANES_MAX sign bits, so an unclamped Python width past
    ~calib·2^(MAX-base) rows (~3.2M) would silently use more planes
    than the oracle's substring can ever produce. Pure and
    deterministic — same corpus, same width."""
    import math

    if n_rows <= calib:
        return base
    return min(base + math.ceil(math.log2(n_rows / calib)), PLANES_MAX)


def _plane_component(p: int, d: Column) -> Column:
    """Portable pseudo-random hyperplane component in [-0.5, 0.5)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(p)), d.cast("string"))), 1, 8), 16, 10
    ).cast("double")
    return h / F.lit(4294967296.0) - 0.5


def lsh_bucket(emb: Column, n_planes: int = N_PLANES, plane_offset: int = 0) -> Column:
    """Sign-bit bucket string of the vector against n_planes
    hyperplanes; dot products accumulate sequentially in float64.
    ``plane_offset`` selects an independent plane family (multi-table
    LSH uses offsets 0, n, 2n, …)."""
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        dot_p = F.aggregate(
            F.transform(
                emb,
                lambda x, i: x * _plane_component(p, i),  # noqa: B023 — p bound per iteration below
            ),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bits.append(F.when(dot_p >= 0, "1").otherwise("0"))
    return F.concat(*bits)


def _duck_bucket(vec: str, n_planes: int = N_PLANES, plane_offset: int = 0) -> str:
    """Same bucket derivation in DuckDB SQL over column ``vec``."""
    bits = []
    for p in range(plane_offset, plane_offset + n_planes):
        dot_p = (
            "list_sum([{v}[d + 1] * "
            "((CAST(('0x' || substring(md5('{p}|' || CAST(d AS VARCHAR)), 1, 8)) AS UBIGINT)"
            " / 4294967296.0) - 0.5) for d in range(0, len({v}))])"
        ).format(v=vec, p=p)
        bits.append(f"CASE WHEN {dot_p} >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _duck_auto_bucket(vec: str, count_sql: str) -> str:
    """Width-ADAPTIVE twin of ``_duck_bucket`` for the auto_planes
    paths (ADVICE r9): emits PLANES_MAX sign bits and keeps the
    prefix whose width the SQL itself derives from ``count_sql`` (a
    scalar subquery returning the same corpus count the Spark side
    feeds auto_planes) by the identical base + ceil(log2(n/calib))
    rule. Plane p's bit is independent of the total width, so the
    w-wide prefix of the PLANES_MAX-bit string IS the w-plane bucket
    — the oracle now matches the Spark path at ANY corpus size
    instead of hard-coding the fixture width and silently hash-
    diverging past the calibration point."""
    width = (
        f"LEAST(CASE WHEN ({count_sql}) <= {PLANES_CALIB_ROWS} THEN {PLANES_BASE} "
        f"ELSE {PLANES_BASE} + CAST(ceil(log2(({count_sql}) / {PLANES_CALIB_ROWS}.0)) AS INT) END, "
        f"{PLANES_MAX})"
    )
    return f"substring({_duck_bucket(vec, PLANES_MAX, 0)}, 1, {width})"


@register(
    "lsh_hyperplane_topk",
    tags=("similarity", "ann", "lsh"),
    doc="Cosine-LSH ANN (random-hyperplane bucketing, the brief's "
    "'LSH-bucketed variant'): 3 portable md5-derived hyperplanes "
    "bucket the corpus; each query searches only its own bucket, "
    "exact cosine + top-5 within it. Same algorithm in the oracle, "
    "so the approximation is hash-checked deterministically. See "
    "module docstring for the measured recall tradeoff on this corpus.",
    oracle=f"""
        WITH emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        bucketed AS (
          SELECT vec_id, emb, {_duck_bucket("emb")} AS bucket
          FROM emb
        ),
        q AS (SELECT vec_id AS qid, emb AS qe, bucket FROM bucketed WHERE vec_id < 8)
        SELECT qid, bucket, cid, round(score, 6) AS score, rank
        FROM (
          SELECT q.qid, q.bucket, c.vec_id AS cid,
                 list_cosine_similarity(q.qe, c.emb) AS score,
                 row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(q.qe, c.emb) DESC, c.vec_id) AS rank
          FROM q JOIN bucketed c
            ON c.bucket = q.bucket AND c.vec_id != q.qid
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def lsh_hyperplane_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # materialize buckets behind a barrier: the bucket expression is
    # n_planes × O(dim) md5 dots and must not be re-inlined per branch
    bucketed = e.select("vec_id", "emb", lsh_bucket(F.col("emb")).alias("bucket")).repartition(
        32, "bucket"
    )
    q = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe"), "bucket"
    )
    c = bucketed.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"), "bucket")
    scored = F.broadcast(q).join(c, ["bucket"]).filter(F.col("cid") != F.col("qid")).select(
        "qid", "bucket", "cid", cosine(F.col("qe"), F.col("ce")).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "bucket", "cid", F.round("score", 6).alias("score"), "rank")
        .orderBy("qid", "rank")
    )


N_TABLES = 4


_DUCK_TABLES = "\n          UNION ALL ".join(
    f"SELECT vec_id, emb, {t} AS tbl, {{b{t}}} AS bucket FROM emb"
    for t in range(N_TABLES)
)


@register(
    "lsh_multitable_topk",
    tags=("similarity", "ann", "lsh"),
    doc="Multi-table cosine LSH (L=4 independent 3-plane tables): a "
    "query's candidates are the UNION of its buckets across tables — "
    "recall 1-(1-p^k)^L instead of p^k, the standard cure for single-"
    "table LSH's miss rate — then exact cosine re-ranks the deduped "
    "candidate set. n_hits (tables agreeing on a pair) is carried as "
    "the collision-strength diagnostic. One shuffle on (tbl, bucket); "
    "candidate volume is L × bucket size, still corpus/2^k per table.",
    oracle=f"""
        WITH emb AS (
          SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        bucketed AS (
          {_DUCK_TABLES.format(**{f"b{t}": _duck_bucket("emb", 3, 3 * t) for t in range(N_TABLES)})}
        ),
        q AS (SELECT vec_id AS qid, tbl, bucket FROM bucketed WHERE vec_id < 8),
        cand AS (
          SELECT q.qid, c.vec_id AS cid, CAST(count(*) AS BIGINT) AS n_hits
          FROM q JOIN bucketed c
            ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id != q.qid
          GROUP BY q.qid, c.vec_id
        ),
        scored AS (
          SELECT cand.qid, cand.cid, cand.n_hits,
                 list_cosine_similarity(qe.emb, ce.emb) AS score
          FROM cand
          JOIN emb qe ON qe.vec_id = cand.qid
          JOIN emb ce ON ce.vec_id = cand.cid
        )
        SELECT qid, cid, n_hits, round(score, 6) AS score, rank
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY qid ORDER BY score DESC, cid) AS rank
          FROM scored
        )
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    # all L bucket strings in ONE projection over the corpus (explode,
    # like the MinHash band path), materialized behind a barrier so the
    # L × n_planes × O(dim) md5 dot products run once per row
    tb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    lsh_bucket(F.col("emb"), N_PLANES, 3 * t).alias("bucket"),
                )
                for t in range(N_TABLES)
            ]
        )
    )
    bucketed = (
        e.select("vec_id", tb.alias("tb"))
        .select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
        .repartition(barrier_width(e), "tbl", "bucket")
    )
    q = bucketed.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    c = bucketed.select(F.col("vec_id").alias("cid"), "tbl", "bucket")
    cand = (
        F.broadcast(q)
        .join(c, ["tbl", "bucket"])
        .filter(F.col("cid") != F.col("qid"))
        .groupBy("qid", "cid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    qe = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("qid"), F.col("emb").alias("qe"))
    ce = e.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "cid")
        .select("qid", "cid", "n_hits", cosine(F.col("qe"), F.col("ce")).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "cid", "n_hits", F.round("score", 6).alias("score"), "rank")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# Incremental vector dedup — O(new) batch vs persisted, LSH-sub-blocked index

def index_planes(spark: SparkSession, sf_dir: str) -> int:
    """Width the vector index is built at, derived from the indexed
    corpus size by the SCALE.md operating rule (auto_planes over a
    column-pruned count). A session memo: in a real deployment this is
    a stat persisted WITH the index — rebuilding at a new width is the
    explicit re-index decision, so the width must never silently
    change under a live index."""
    return memo(
        spark,
        ("index_planes", sf_dir),
        lambda: auto_planes(_emb(spark, sf_dir).select("vec_id").count()),
    )


def warm_embedding_index(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    """The existing corpus's (vec_id, label, bucket, emb) vectors with
    their precomputed n-plane LSH sub-bucket, a session artifact
    (``session.memo``) per width — at 100 TB this is the stored, bucketed
    vector index the offline job maintains (bucketing computed at
    INDEX time, not per incoming batch). Width defaults to
    index_planes — self-scaled from the corpus size, 4 at fixture
    scale (the registered oracle contract); widening is an index
    REBUILD, which is exactly how a real deployment grows the block
    count with the corpus.
    Lifecycle: merge/compact/expire PROVEN against this exact layout —
    tests/test_connectors.py::test_vector_index_lifecycle_verdict_invariance
    runs the connectors helpers over a dt-partitioned copy of these
    rows and pins verdict-invariance through match_new_vs_vector_index
    (the registered O(new) plan): compaction changes zero verdicts,
    expiry drops exactly the dropped ingest day's matches."""
    if n_planes is None:
        n_planes = index_planes(spark, sf_dir)
    return memo(
        spark,
        ("embedding_index", sf_dir, n_planes),
        lambda: _emb(spark, sf_dir).select(
            "vec_id", "label", lsh_bucket(F.col("emb"), n_planes).alias("bucket"), "emb"
        ),
    )


@register(
    "incremental_embedding_dedup",
    tags=("similarity", "dedup", "incremental", "lsh"),
    doc="Incremental embedding near-dup check — the O(new) daily-batch "
    "contract of incremental_minhash_dedup generalized to the vector "
    "modality: an incoming batch (every-25th vector cloned at "
    "vec_id+10000) joins the EXISTING corpus's persisted vector index "
    "only, blocked on (label, LSH sub-bucket) — width self-scaled "
    "from the indexed corpus size via auto_planes (4 at fixture "
    "scale, the oracle's contract). The sub-bucket "
    "matters at scale and was found by measurement: label-only "
    "blocking has CONSTANT cardinality, so both sides of each block "
    "fatten with the corpus and the 30x probe measured 20.5x — "
    "quadratic-in-scale pair enumeration, not O(new). The hyperplane "
    "sub-bucket multiplies block count 16x here, and the plane count "
    "is the width knob that grows with the corpus (the simhash "
    "32->64 pattern). Recall trade, stated: a near-dup pair "
    "straddling a hyperplane is missed (exact clones never are — "
    "identical vectors share every sign bit); multi-table probing is "
    "the standard cure, as in lsh_multitable_topk. The oracle runs "
    "the SAME blocking, so the result is deterministic and "
    "hash-checked. Batch side broadcasts; prepare hook warms the "
    "index outside the bench timer.",
    oracle=f"""
        WITH emb AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb
          FROM embeddings
        ),
        indexed AS (
          SELECT vec_id, label,
                 {_duck_auto_bucket("emb", "SELECT count(*) FROM embeddings")} AS bucket,
                 emb
          FROM emb
        ),
        new_batch AS (
          SELECT vec_id + 10000 AS new_id, label,
                 {_duck_auto_bucket("emb", "SELECT count(*) FROM embeddings")} AS bucket,
                 emb
          FROM emb WHERE vec_id % 25 = 0
        )
        SELECT n.new_id, i.vec_id AS match_id,
               round(list_cosine_similarity(n.emb, i.emb), 6) AS score
        FROM new_batch n
        JOIN indexed i ON i.label = n.label AND i.bucket = n.bucket
        WHERE round(list_cosine_similarity(n.emb, i.emb), 6) >= 0.999
        ORDER BY new_id, match_id
    """,
    prepare=warm_embedding_index,
)
def incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    # n_planes is the block-width knob, self-scaled from the indexed
    # corpus size (auto_planes; 4 at fixture scale, the oracle's
    # contract). Both sides of the blocked join grow with the corpus,
    # so cost at a FIXED width bends quadratic across decades
    # (measured: 3.3x per 30x but 32x per 100x); the derived width
    # restores the per-unit cost — see docs/SCALE.md rounds 8-9 for
    # the measured knob curve. The new batch MUST bucket at the
    # index's width, so both sides resolve through index_planes.
    if n_planes is None:
        n_planes = index_planes(spark, sf_dir)
    new_b = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") % 25 == 0)
        .select(
            (F.col("vec_id") + 10000).alias("new_id"),
            "label",
            lsh_bucket(F.col("emb"), n_planes).alias("bucket"),
            F.col("emb").alias("ne"),
        )
    )
    idx = warm_embedding_index(spark, sf_dir, n_planes).select(
        F.col("vec_id").alias("match_id"), "label", "bucket", F.col("emb").alias("ie")
    )
    # Broadcasting the BATCH keeps this face O(new) — a shuffle join
    # re-shuffles the O(corpus) index per night. Size-GATED (round-13
    # broadcast audit, same policy as dedup's band face): probe = the
    # batch's raw id scan (row-for-row equal to new_b — the bucket/
    # cast projections are row-preserving — and a pushed-down parquet
    # count, never a re-run of the hashing). The bound is vector-width
    # aware: EMBED_BATCH_BROADCAST_BOUND rows of ~0.5-1 KB embeddings
    # ≈ ≤100 MB; past it the fallback shuffle join is the right plan.
    from project_orbit_spark.catalog import maybe_broadcast

    batch_ids = _emb(spark, sf_dir).filter(F.col("vec_id") % 25 == 0).select("vec_id")
    return match_new_vs_vector_index(
        maybe_broadcast(new_b, EMBED_BATCH_BROADCAST_BOUND, probe=batch_ids), idx
    )


def match_new_vs_vector_index(new_b: DataFrame, idx: DataFrame) -> DataFrame:
    """The O(new) blocked match join — factored out (r17, VERDICT r16
    ask #7) so the vector-index lifecycle test drives the REGISTERED
    plan against an on-disk index, the same shared-helper discipline
    as dedup.match_new_vs_index. new_b: (new_id, label, bucket, ne);
    idx: (match_id, label, bucket, ie). Broadcast gating is the
    CALLER's decision — the production face wraps new_b in its
    size-gated maybe_broadcast before calling."""
    score = F.round(cosine(F.col("ne"), F.col("ie")), 6)
    return (
        new_b.join(idx, ["label", "bucket"])
        .select("new_id", "match_id", score.alias("score"))
        .filter(F.col("score") >= 0.999)
        .orderBy("new_id", "match_id")
    )


# ---------------------------------------------------------------------------
# ANN recall observability (VERDICT r13 ask #5): recall@k numbers lived
# only in tests; a 100 TB deployment needs them AS A QUERY — the
# regression guard any future ANN tuning runs first.

# (tier name, registered query, qid universe of that tier's query set)
_RECALL_TIERS = (
    ("ivf", "ann_ivf_topk", 5),
    ("ivf_pq", "ann_ivf_pq_topk", 5),
    ("lsh", "lsh_hyperplane_topk", 8),
    ("lsh_multi", "lsh_multitable_topk", 8),
    ("matryoshka", "matryoshka_funnel_topk", 5),
)


def _registered_oracle(name: str) -> str:
    """Pull an already-registered query's oracle SQL at import time.
    Reads the registry dict directly instead of get_query(): this
    module is itself being imported by registry._load(), so the
    loader entry point must not re-enter. Import order guarantees
    every tier is present (cosine loads before lsh; the two LSH
    tiers register above in this file)."""
    from project_orbit_spark.registry import _REGISTRY

    oracle = _REGISTRY[name].oracle
    assert oracle is not None
    return oracle


def _recall_oracle_sql() -> str:
    """Per-(tier, qid) recall@5: each tier's ORIGINAL oracle is
    embedded verbatim as a subquery (DuckDB supports CTEs inside
    subqueries), left-joined against a qid<8 exact brute-force
    reference — so the audit can never drift from the queries it
    audits."""
    tiers = ",\n        ".join(
        f"t_{tier} AS ({_registered_oracle(qname)}\n        )"
        for tier, qname, _ in _RECALL_TIERS
    )
    unions = "\n          UNION ALL ".join(
        f"""SELECT '{tier}' AS tier, x.qid, count(t.cid)::BIGINT AS hits,
                 round(count(t.cid) / 5.0, 4) AS recall_at_5
          FROM exact x LEFT JOIN t_{tier} t ON t.qid = x.qid AND t.cid = x.cid
          WHERE x.qid < {qmax}
          GROUP BY x.qid"""
        for tier, _, qmax in _RECALL_TIERS
    )
    return f"""
        WITH exact AS (
          SELECT qid, cid FROM (
            SELECT q.qid, e.vec_id AS cid,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY list_cosine_similarity(q.qe, e.emb) DESC,
                              e.vec_id) AS rank
            FROM (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
                  FROM embeddings WHERE vec_id < 8) q
            JOIN (SELECT vec_id, embedding::DOUBLE[] AS emb
                  FROM embeddings) e ON e.vec_id != q.qid
          ) WHERE rank <= 5
        ),
        {tiers}
        SELECT tier, qid, hits, recall_at_5 FROM ({unions})
        ORDER BY tier, qid
    """


@register(
    "ann_recall_audit",
    tags=("similarity", "ann", "observability"),
    doc="ANN recall@5 as a first-class query (VERDICT r13 ask #5): "
    "every ANN tier (IVF, IVF-PQ, single- and multi-table LSH, "
    "Matryoshka funnel) joined against the exact brute-force top-5 "
    "over its own query set, emitting per-(tier, qid) hit counts and "
    "recall — the regression guard for any future ANN tuning, and "
    "the per-tier quality datasheet a 100 TB index rollout reads "
    "before flipping traffic. Oracle embeds each tier's ORIGINAL "
    "oracle as a subquery, so audit and audited can never drift. "
    "Scale: the exact reference is the bounded-query-set brute force "
    "(8 queries broadcast, salted two-phase rank); each tier is its "
    "already-audited plan; the joins are on <=40-row frames.",
    oracle=_recall_oracle_sql(),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.similarity.cosine import (
        ann_ivf_pq_topk,
        ann_ivf_topk,
        brute_force_topk,
        matryoshka_funnel_topk,
    )

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    exact = brute_force_topk(q, c, k=5).select("qid", "cid")
    fns = {
        "ivf": ann_ivf_topk,
        "ivf_pq": ann_ivf_pq_topk,
        "lsh": lsh_hyperplane_topk,
        "lsh_multi": lsh_multitable_topk,
        "matryoshka": matryoshka_funnel_topk,
    }
    out: DataFrame | None = None
    for tier, qname, qmax in _RECALL_TIERS:
        t = fns[tier](spark, sf_dir).select(
            "qid", "cid", F.lit(1).alias("hit")
        )
        part = (
            exact.filter(F.col("qid") < qmax)
            .join(t, ["qid", "cid"], "left")
            .groupBy("qid")
            .agg(F.count("hit").cast("long").alias("hits"))
            .select(
                F.lit(tier).alias("tier"),
                "qid",
                "hits",
                F.round(F.col("hits") / 5.0, 4).alias("recall_at_5"),
            )
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("tier", "qid")


@register(
    "embedding_near_dup_bucketed",
    tags=("similarity", "dedup", "lsh"),
    doc="The 100 TB face of E4 embedding near-dup detection "
    "(round-14 100x probe finding: the label-blocked exact face "
    "embedding_near_dup_pairs is quadratic WITHIN each label — fine "
    "as the fixture-exact face, unbounded when labels stay "
    "coarse-grained as the corpus grows): pairs block on (label, "
    "auto-width LSH sub-bucket), the same adaptive bucketing the "
    "persisted vector index uses (index_planes/auto_planes — one "
    "more plane per corpus doubling, so expected bucket size stays "
    "CONSTANT and the pair join stays linear at any scale). At "
    "cosine >= 0.999 the per-plane agreement probability is "
    "~0.986, so the standard LSH miss rate applies to borderline "
    "pairs (~1.4% per plane); the injected EXACT clones agree on "
    "every plane by construction — zero loss on the fixture ground "
    "truth, verified by the parity test against the exact face.",
    oracle=f"""
        WITH emb AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        corpus AS (
          SELECT vec_id, label, emb FROM emb
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, label, emb
          FROM emb WHERE vec_id % 25 = 0
        ),
        bucketed AS (
          SELECT vec_id, label, emb,
                 {_duck_auto_bucket("emb", "(SELECT count(*) FROM emb)")}
                   AS bucket
          FROM corpus
        )
        SELECT left_id, right_id, score FROM (
          SELECT a.vec_id AS left_id, b.vec_id AS right_id,
                 round(list_cosine_similarity(a.emb, b.emb), 6) AS score
          FROM bucketed a
          JOIN bucketed b
            ON a.label = b.label AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
        ) t
        WHERE score >= 0.999
        ORDER BY left_id, right_id
    """,
)
def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    dups = e.filter(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + 10000
    )
    corpus = e.unionByName(dups)
    w = index_planes(spark, sf_dir)
    # barrier: the bucket expression is n_planes x O(dim) md5 dots and
    # must not be re-inlined per join branch (the lsh_hyperplane_topk
    # discipline)
    bucketed = corpus.select(
        "vec_id", "label", "emb", lsh_bucket(F.col("emb"), w).alias("bucket")
    ).repartition(barrier_width(corpus), "label", "bucket")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    score = F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6)
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("left_id"),
            F.col("b.vec_id").alias("right_id"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 0.999)
        .orderBy("left_id", "right_id")
    )
