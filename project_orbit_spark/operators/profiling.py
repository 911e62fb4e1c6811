"""Data-profiling operators — the first thing a curation pipeline
runs against a new 100 TB drop: per-column health (nulls, cardinality,
bounds) and value-distribution histograms.

The reference has no profiling surface (quality decisions are inline
Python checks, e.g. src/scraper_v2.py min-length guards); at scale
profiling is a first-class pre-flight stage that decides partition
strategy and filter thresholds before any expensive pass.

Scale shape: the column profile is ONE aggregate over the table
(count/sum/min/max are map-side partial; the distinct counts ride
Spark's expand-based multi-DISTINCT rewrite — swap count_distinct
for approx_count_distinct when exactness stops mattering at trillions
of rows). The histogram computes bounds in a tiny 1-row broadcast and
bins with pure arithmetic — two scans, zero wide shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.registry import register

PROFILE_COLS = ["doc_id", "lang", "n_chars", "source"]


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_s, max_s) per column,
    computed in a single pass; min/max stringified AFTER the typed
    aggregate so numeric columns keep numeric ordering."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls") for c in cols],
        *[F.count_distinct(F.col(c)).alias(f"{c}__nd") for c in cols],
        *[F.min(c).cast("string").alias(f"{c}__min") for c in cols],
        *[F.max(c).cast("string").alias(f"{c}__max") for c in cols],
    )
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return agg.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nulls, n_distinct, min_s, max_s)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")


def value_histogram(df: DataFrame, col: str, nbins: int = 20) -> DataFrame:
    """Equi-width histogram with data-driven bounds: bounds are a
    1-row broadcast, binning is pure arithmetic (portable — no
    width_bucket), top bin closed so max lands in bin nbins-1. When
    min = max the zero-width quotient is NULL, which ``least`` skips,
    so every value lands in bin nbins-1 (DuckDB's 0/0 is NULL too)."""
    bounds = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
    bucket = F.least(
        F.floor(F.try_divide((F.col(col) - F.col("lo")) * nbins, F.col("hi") - F.col("lo"))),
        F.lit(nbins - 1),
    ).cast("long")
    return (
        df.join(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "lo", "hi")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / nbins), 4).alias(
                "bucket_lo"
            ),
        )
        .select("bucket", "bucket_lo", "n")
        .orderBy("bucket")
    )


@register(
    "profile_documents_columns",
    tags=("profiling", "aggregate"),
    doc="Per-column profile of documents (nulls, exact cardinality, "
    "stringified bounds) in one aggregate pass — the pre-flight "
    "health check a curation pipeline runs before choosing partition "
    "keys and filters.",
    oracle="""
        SELECT 'doc_id' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT doc_id) AS n_distinct,
               CAST(min(doc_id) AS VARCHAR) AS min_s, CAST(max(doc_id) AS VARCHAR) AS max_s
        FROM documents
        UNION ALL
        SELECT 'lang', count(*),
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT lang), CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(*),
               CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'source', count(*),
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT source), CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        FROM documents
        ORDER BY col_name
    """,
)
def profile_documents_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return profile_columns(d, PROFILE_COLS).orderBy("col_name")


@register(
    "events_value_histogram",
    tags=("profiling", "aggregate"),
    doc="20-bin equi-width histogram of events.value with data-driven "
    "bounds (1-row broadcast + arithmetic binning; no single-point "
    "shuffle).",
    oracle="""
        WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
        binned AS (
          SELECT CAST(least(floor((value - lo) * 20 / (hi - lo)), 19) AS BIGINT) AS bucket,
                 lo, hi
          FROM events CROSS JOIN bounds
        )
        SELECT bucket,
               round(min(lo + bucket * (hi - lo) / 20), 4) AS bucket_lo,
               count(*) AS n
        FROM binned
        GROUP BY bucket
        ORDER BY bucket
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("value")
    return value_histogram(ev, "value", nbins=20)
