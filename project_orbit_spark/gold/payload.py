"""Gold layer: nested payload assembly, dashboard section tables,
completeness checks, eval scoring — SURVEY.md §2 J8/O4/A9/A10.

The reference assembles one nested Payload per company
(src/structured_extraction_v2.py:3484-3494, models at
src/models.py:121-130) and validates dashboards for 8 mandatory
sections (src/rag_pipeline.py:192-215). Here: collect_list(struct)
assembly with deterministic array ordering, set-difference
completeness, and rubric arithmetic — all hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load, sort_bounded
from project_orbit_spark.registry import register


def assemble_payload(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """J8 nested assembly: company row + sorted array of child order
    structs (provenance-array pattern). Array sorted by (date, key)
    so downstream consumers see deterministic element order."""
    child = orders.groupBy("o_custkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("o_orderdate").alias("odate"),
                    F.col("o_orderkey").alias("okey"),
                    F.col("o_totalprice").alias("price"),
                )
            )
        ).alias("orders")
    )
    return customer.join(child, customer.c_custkey == child.o_custkey, "left")


@register(
    "payload_assembly_nested",
    bench=True,
    tags=("gold", "nested"),
    doc="J8 payload assembly (ref src/structured_extraction_v2.py:"
    "3484-3494): nested order arrays per customer, then scalar "
    "projections from *inside* the nested structure (first/last "
    "element fields) so the assembly itself is what's verified.",
    oracle="""
        WITH child AS (
          SELECT o_custkey,
                 count(*) AS n_orders,
                 first(o_orderkey ORDER BY o_orderdate, o_orderkey) AS first_okey,
                 last(o_orderkey ORDER BY o_orderdate, o_orderkey) AS last_okey,
                 round(sum(o_totalprice), 2) AS total_spend
          FROM orders
          GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name,
               coalesce(ch.n_orders, 0) AS n_orders,
               ch.first_okey, ch.last_okey, ch.total_spend
        FROM customer c LEFT JOIN child ch ON ch.o_custkey = c.c_custkey
        ORDER BY c.c_custkey
    """,
)
def payload_assembly_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    payload = assemble_payload(c, o)
    first = F.element_at("orders", 1)
    last = F.element_at("orders", -1)
    return payload.select(
        "c_custkey",
        "c_name",
        F.coalesce(F.size("orders"), F.lit(0)).cast("long").alias("n_orders"),
        first["okey"].alias("first_okey"),
        last["okey"].alias("last_okey"),
        F.round(
            F.aggregate("orders", F.lit(0.0), lambda s, x: s + x["price"]), 2
        ).alias("total_spend"),
    ).orderBy("c_custkey")


REQUIRED_SOURCES = tuple(f"src{i}" for i in range(20))


@register(
    "section_completeness",
    tags=("gold", "setops"),
    doc="O4 section-completeness check (ref src/rag_pipeline.py:"
    "192-215: 8 mandatory dashboard sections): per lang, which of "
    "the 20 required sources are missing — array_except against the "
    "collected set, emitted as a sorted comma-joined string.",
    oracle="""
        WITH required AS (
          SELECT ['src0','src1','src2','src3','src4','src5','src6','src7','src8','src9',
                  'src10','src11','src12','src13','src14','src15','src16','src17',
                  'src18','src19'] AS req
        ),
        found AS (
          SELECT lang, list_distinct(list(source)) AS have
          FROM documents GROUP BY lang
        )
        SELECT f.lang,
               CAST(len(f.have) AS BIGINT) AS n_present,
               coalesce(
                 array_to_string(list_sort(list_filter(r.req, s -> NOT list_contains(f.have, s))), ','),
                 '') AS missing_sources
        FROM found f CROSS JOIN required r
        ORDER BY f.lang
    """,
)
def section_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    req = F.array(*[F.lit(s) for s in REQUIRED_SOURCES])
    return (
        d.groupBy("lang")
        .agg(F.collect_set("source").alias("have"))
        .select(
            "lang",
            F.size("have").cast("long").alias("n_present"),
            F.array_join(F.array_sort(F.array_except(req, F.col("have"))), ",").alias(
                "missing_sources"
            ),
        )
        .orderBy("lang")
    )


@register(
    "eval_rubric_scores",
    tags=("gold", "eval"),
    doc="A9 eval scoring (ref src/evaluator.py:1, EVAL.md rubric: "
    "factual 0-3 + schema 0-2 + provenance 0-2 + hallucination 0-2 + "
    "readability 0-1): rubric components derived from per-lang corpus "
    "stats, clamped to their ranges, summed.",
    oracle="""
        WITH stats AS (
          SELECT lang,
                 count(*) AS n_docs,
                 CAST(sum(CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS long_docs,
                 count(DISTINCT source) AS n_sources
          FROM documents GROUP BY lang
        )
        SELECT lang,
               least(n_docs // 40, 3) AS factual,
               least(n_sources // 10, 2) AS schema_score,
               least(long_docs // 50, 2) AS provenance,
               least((n_docs - long_docs) // 20, 2) AS hallucination_control,
               CAST(CASE WHEN n_sources >= 15 THEN 1 ELSE 0 END AS BIGINT) AS readability,
               least(n_docs // 40, 3) + least(n_sources // 10, 2)
                 + least(long_docs // 50, 2) + least((n_docs - long_docs) // 20, 2)
                 + CAST(CASE WHEN n_sources >= 15 THEN 1 ELSE 0 END AS BIGINT) AS total_score
        FROM stats
        ORDER BY lang
    """,
)
def eval_rubric_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_chars") >= 100, 1).otherwise(0)).alias("long_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    factual = F.least(F.floor(F.col("n_docs") / 40), F.lit(3)).cast("long")
    schema_score = F.least(F.floor(F.col("n_sources") / 10), F.lit(2)).cast("long")
    provenance = F.least(F.floor(F.col("long_docs") / 50), F.lit(2)).cast("long")
    halluc = F.least(
        F.floor((F.col("n_docs") - F.col("long_docs")) / 20), F.lit(2)
    ).cast("long")
    readability = F.when(F.col("n_sources") >= 15, 1).otherwise(0).cast("long")
    return stats.select(
        "lang",
        factual.alias("factual"),
        schema_score.alias("schema_score"),
        provenance.alias("provenance"),
        halluc.alias("hallucination_control"),
        readability.alias("readability"),
        (factual + schema_score + provenance + halluc + readability).alias("total_score"),
    ).orderBy("lang")


@register(
    "dashboard_report_table",
    tags=("gold",),
    doc="E6/gold dashboard report table (ref markdown dashboard with "
    "mandatory '## ' sections, src/rag_pipeline.py:160-215): one row "
    "per (lang, section) with formatted markdown content assembled "
    "from corpus aggregates — the deterministic, LLM-free face of "
    "dashboard generation (E5 pluggability note in SURVEY §2.8).",
    oracle="""
        WITH agg AS (
          SELECT lang, source,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM documents
          GROUP BY lang, source
        )
        SELECT lang,
               '## ' || upper(source) AS section_header,
               'docs: ' || n_docs::VARCHAR || ' | chars: ' || total_chars::VARCHAR
                 AS section_body,
               n_docs,
               total_chars
        FROM agg
        ORDER BY lang, section_header
    """,
)
def dashboard_report_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    agg = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    report = agg.select(
        "lang",
        F.concat(F.lit("## "), F.upper("source")).alias("section_header"),
        F.concat(
            F.lit("docs: "),
            F.col("n_docs").cast("string"),
            F.lit(" | chars: "),
            F.col("total_chars").cast("string"),
        ).alias("section_body"),
        "n_docs",
        "total_chars",
    )
    # bound: one row per (lang, source) group — the language and
    # connector domains, not the corpus
    return sort_bounded(report, "lang", "section_header")
