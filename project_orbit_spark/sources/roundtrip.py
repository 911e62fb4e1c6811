"""Driver-record coverage for the source/sink connectors — SURVEY.md
§2.1 S1/S4/S7/S8 and the S11–S14 sinks.

The connector functions in ``sources/connectors.py`` manage files and
feeds, which the fixture tables don't contain — so each query here
TEMPLATES a deterministic artifact from a fixture table (the same move
``functions/html_extract.py::html_page`` makes for HTML), pushes it
through the real connector (``spark.read.json`` seed scan, wholetext
corpus walk with path-derived keys, ``from_xml`` feed parsing,
``partitionBy``/append parquet sinks with a read-back), and the DuckDB
oracle re-derives the expected OUTPUT directly from the source fixture
table. A parse/round-trip defect therefore breaks the hash — the
connector itself is on the correctness record, not a re-statement of
the template.

File-writing queries stage under /tmp keyed by the live session's
applicationId, so concurrent sessions never race on a path.

Reference parity: seed scan src/scraper_v2.py:4133-4145; RSS item loop
src/scraper_v2.py:972-1042 and feedparser-normalized entries
src/news_extractor.py:60-89; local corpus walk
src/handle_chunking.py:12-25,114-140; partitioned artifact sinks
src/scraper_v2.py:3863-3894; append-only risk log
src/risk_detection.py:136-140.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.registry import register
from project_orbit_spark.session import cache_token
from project_orbit_spark.sources.connectors import (
    parse_rss_items,
    read_json_seed,
    read_text_corpus,
    union_tagged_sources,
    write_append_log,
    write_partitioned,
)

_PAGE_TYPES = ("about", "jobs", "news")


def _stage_dir(spark: SparkSession, leaf: str) -> str:
    """Session-scoped staging path: /tmp/orbit_spark_roundtrip/<appId>/<leaf>."""
    return os.path.join("/tmp/orbit_spark_roundtrip", cache_token(spark), leaf)


def _collect_nation_seed(spark: SparkSession, sf_dir: str) -> list[dict]:
    """The 25-row nation dim as seed-company rows (the reference's seed
    is a 50-row local JSON — driver-side materialization of a tiny dim
    is the operator's real shape). Website shapes vary (www./bare,
    http/https) so the company_id host regex's optional groups are
    actually exercised."""
    rows = load(spark, sf_dir, "nation").orderBy("n_nationkey").collect()
    seed = []
    for r in rows:
        k = r["n_nationkey"]
        scheme = "http" if k % 3 == 0 else "https"
        www = "" if k % 2 == 0 else "www."
        seed.append(
            {
                "company_name": f"Acme {r['n_name']}",
                "website": f"{scheme}://{www}nation{k}.com",
                "linkedin": f"https://linkedin.com/company/nation{k}",
                "hq_city": f"City {k}",
                "hq_country": r["n_name"],
                "category": f"cat{r['n_regionkey']}",
            }
        )
    return seed


@register(
    "seed_scan_company_ids",
    tags=("source", "seed", "json"),
    doc="S1 seed scan + company_id derivation (ref src/scraper_v2.py:"
    "4133-4145): the nation dim is templated into a JSON-array seed "
    "file, read back through the REAL connector (spark.read.json with "
    "the seed schema + host-regex company_id), and the oracle "
    "re-derives every field from nation directly — a read or regex "
    "defect breaks the hash.",
    oracle="""
        SELECT 'nation' || n_nationkey AS company_id,
               'Acme ' || n_name AS company_name,
               CASE WHEN n_nationkey % 3 = 0 THEN 'http' ELSE 'https' END
                 || '://'
                 || CASE WHEN n_nationkey % 2 = 0 THEN '' ELSE 'www.' END
                 || 'nation' || n_nationkey || '.com' AS website,
               n_name AS hq_country,
               'cat' || n_regionkey AS category
        FROM nation
        ORDER BY company_id
    """,
)
def seed_scan_company_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_dir(spark, "seed")
    os.makedirs(stage, exist_ok=True)
    path = os.path.join(stage, "seed.json")
    with open(path, "w") as fh:
        json.dump(_collect_nation_seed(spark, sf_dir), fh)
    return (
        read_json_seed(spark, path)
        .select("company_id", "company_name", "website", "hq_country", "category")
        .orderBy("company_id")
    )


@register(
    "corpus_scan_path_keys",
    tags=("source", "corpus", "files"),
    doc="S7 local corpus scan with path-derived keys (ref "
    "src/handle_chunking.py:12-25,114-140): one <company>/<page_type>"
    "_clean.txt file per (nation, page type) staged to /tmp, read back "
    "through the REAL connector (recursive wholetext scan + "
    "input_file_name regexes), oracle re-derived from nation × the "
    "page-type grid.",
    oracle="""
        SELECT 'nation' || n.n_nationkey AS company_id,
               pt.page_type,
               'nation' || n.n_nationkey || ' ' || pt.page_type
                 || ' corpus page for ' || n.n_name AS text
        FROM nation n
        CROSS JOIN (VALUES ('about'), ('jobs'), ('news')) AS pt(page_type)
        ORDER BY company_id, page_type
    """,
)
def corpus_scan_path_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_dir(spark, "corpus")
    shutil.rmtree(stage, ignore_errors=True)
    # made before the loop: a zero-row nation table writes no file, and
    # the scan of an empty directory reads zero rows
    os.makedirs(stage, exist_ok=True)
    for r in load(spark, sf_dir, "nation").orderBy("n_nationkey").collect():
        cid = f"nation{r['n_nationkey']}"
        os.makedirs(os.path.join(stage, cid), exist_ok=True)
        for pt in _PAGE_TYPES:
            with open(os.path.join(stage, cid, f"{pt}_clean.txt"), "w") as fh:
                fh.write(f"{cid} {pt} corpus page for {r['n_name']}")
    return (
        read_text_corpus(spark, stage)
        .select("company_id", "page_type", "text")
        .orderBy("company_id", "page_type")
    )


def _feed_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(feed_id, xml): one feed per document source — even-numbered
    sources render RSS 2.0, odd ones Atom, so BOTH dialect branches of
    the parser execute. Atom items alternate summary/content and
    published/updated (doc_id % 3) so the reference's coalesce order
    across tag variants is exercised with distinct values, not
    coincidentally-equal ones. Fixture text is XML-safe (no &<> —
    checked), so no escaping layer hides parse defects."""
    d = load(spark, sf_dir, "documents")
    src_num = F.regexp_extract("source", r"(\d+)$", 1).cast("int")
    did = F.col("doc_id").cast("string")
    title = F.concat(F.lit("Doc "), did)
    url = F.concat(F.lit("https://news.example/"), did)
    excerpt = F.substring("text", 1, 40)
    date = F.concat(F.lit("2024-01-"), F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"))
    author = F.concat(F.lit("writer_"), (F.col("doc_id") % 7).cast("string"))
    alt = F.col("doc_id") % 3 == 0  # Atom tag-variant selector
    rss_item = F.concat(
        F.lit("<item><title>"), title, F.lit("</title><link>"), url,
        F.lit("</link><description>"), excerpt, F.lit("</description><pubDate>"),
        date, F.lit("</pubDate><author>"), author, F.lit("</author></item>"),
    )
    atom_entry = F.concat(
        F.lit("<entry><title>"), title, F.lit('</title><link href="'), url,
        F.lit('"/>'),
        F.when(
            alt, F.concat(F.lit("<content>C: "), excerpt, F.lit("</content>"))
        ).otherwise(F.concat(F.lit("<summary>"), excerpt, F.lit("</summary>"))),
        F.when(
            alt, F.concat(F.lit("<updated>U: "), date, F.lit("</updated>"))
        ).otherwise(F.concat(F.lit("<published>"), date, F.lit("</published>"))),
        F.lit("<author><name>"), author, F.lit("</name></author></entry>"),
    )
    is_atom = src_num % 2 == 1
    items = d.select(
        F.col("source").alias("feed_id"),
        is_atom.alias("is_atom"),
        "doc_id",
        F.when(is_atom, atom_entry).otherwise(rss_item).alias("item_xml"),
    )
    body = items.groupBy("feed_id", "is_atom").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "item_xml"))),
                lambda s: s["item_xml"],
            ),
            "",
        ).alias("body")
    )
    return body.select(
        "feed_id",
        F.when(
            F.col("is_atom"),
            F.concat(
                F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'),
                F.col("body"),
                F.lit("</feed>"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('<rss version="2.0"><channel>'),
                F.col("body"),
                F.lit("</channel></rss>"),
            )
        )
        .alias("xml"),
    )


@register(
    "rss_feed_items",
    tags=("source", "feed", "xml"),
    doc="S4 RSS/Atom feed scan, both dialects (ref src/scraper_v2.py:"
    "972-1042 RSS item loop; src/news_extractor.py:60-89 feedparser-"
    "normalized entries): feeds templated from documents (even sources "
    "RSS, odd Atom), parsed by the REAL connector (from_xml with "
    "per-row dialect detection; summary|content and published|updated "
    "coalesce with distinct values), oracle re-derives the normalized "
    "items from documents directly.",
    oracle="""
        SELECT source AS feed_id,
               'Doc ' || doc_id AS title,
               'https://news.example/' || doc_id AS url,
               -- from_xml trims surrounding whitespace in element text
               -- (ignoreSurroundingSpaces default), so the expected
               -- summary is the TRIMMED excerpt
               CASE WHEN CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 2 = 1
                         AND doc_id % 3 = 0
                    THEN 'C: ' || trim(substring(text, 1, 40))
                    ELSE trim(substring(text, 1, 40)) END AS summary,
               CASE WHEN CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) % 2 = 1
                         AND doc_id % 3 = 0
                    THEN 'U: ' || '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                    ELSE '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') END
                 AS published,
               'writer_' || (doc_id % 7) AS author
        FROM documents
        ORDER BY feed_id, title
    """,
)
def rss_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    feeds = _feed_xml(spark, sf_dir)
    return parse_rss_items(feeds).orderBy("feed_id", "title")


@register(
    "tagged_union_sources",
    tags=("source", "union"),
    doc="S8 multi-format tagged union (ref src/structured_extraction_"
    "v2.py:835-1217): three differently-shaped frames (document slice, "
    "nation-derived seed rows, error-event slice) unioned by name with "
    "null-fill + a source_kind tag — the mechanics the reference's "
    "multi-source merge does dict-by-dict.",
    oracle="""
        SELECT * FROM (
          SELECT 'document' AS source_kind,
                 CAST(doc_id AS VARCHAR) AS item_key,
                 substring(text, 1, 20) AS title,
                 lang,
                 CAST(NULL AS VARCHAR) AS country
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'seed', 'nation' || n_nationkey, 'Acme ' || n_name,
                 NULL, n_name
          FROM nation
          UNION ALL
          SELECT 'event', CAST(event_id AS VARCHAR),
                 'error@' || CAST(user_id AS VARCHAR), NULL, NULL
          FROM events WHERE event_type = 'error' AND event_id % 50 = 0
        ) t
        ORDER BY source_kind, item_key
    """,
)
def tagged_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").cast("string").alias("item_key"),
            F.substring("text", 1, 20).alias("title"),
            "lang",
        )
    )
    seed = load(spark, sf_dir, "nation").select(
        F.concat(F.lit("nation"), F.col("n_nationkey").cast("string")).alias("item_key"),
        F.concat(F.lit("Acme "), F.col("n_name")).alias("title"),
        F.col("n_name").alias("country"),
    )
    events = (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "error") & (F.col("event_id") % 50 == 0))
        .select(
            F.col("event_id").cast("string").alias("item_key"),
            F.concat(F.lit("error@"), F.col("user_id").cast("string")).alias("title"),
        )
    )
    return (
        union_tagged_sources(document=docs, seed=seed, event=events)
        .select("source_kind", "item_key", "title", "lang", "country")
        .orderBy("source_kind", "item_key")
    )


@register(
    "partitioned_sink_roundtrip",
    tags=("sink", "partitioned"),
    doc="S11–S13 partitioned artifact sink (ref src/scraper_v2.py:"
    "3863-3894): documents written partitionBy(lang, source) to a "
    "staging dir through the REAL sink, read back (partition columns "
    "reconstructed from the directory encoding), aggregated per "
    "partition — oracle aggregates the source table directly, so a "
    "write/readback/partition-encoding defect breaks the hash.",
    oracle="""
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(doc_id) AS min_doc_id
        FROM documents
        GROUP BY lang, source
        ORDER BY lang, source
    """,
)
def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_dir(spark, "partitioned")
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang", "source")
    write_partitioned(d, stage, partition_cols=["lang", "source"])
    back = spark.read.schema(d.schema).parquet(stage)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("lang", "source")
    )


@register(
    "append_log_sink_roundtrip",
    tags=("sink", "append"),
    doc="S14 append-only daily log sink (ref src/risk_detection.py:"
    "136-140): the error-event slice appended TWICE into a dt-"
    "partitioned log through the REAL sink, read back and counted per "
    "day — exactly 2× the per-day source counts iff append mode "
    "appends (an overwrite or partition loss breaks the hash).",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS dt,
               2 * count(*) AS n_rows,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE event_type = 'error'
        GROUP BY dt
        ORDER BY dt
    """,
)
def append_log_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_dir(spark, "append_log")
    shutil.rmtree(stage, ignore_errors=True)
    errs = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt"))
    )
    write_append_log(errs, stage)
    write_append_log(errs, stage)
    back = spark.read.schema(errs.schema).parquet(stage)
    return (
        back.groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("dt").cast("string").alias("dt"), "n_rows", "n_users")
        .orderBy("dt")
    )


@register(
    "compaction_log_roundtrip",
    tags=("sink", "append", "maintenance"),
    doc="S14 follow-on: the double-appended daily log (>=2 files per "
    "day) compacted by connectors.compact_parquet (repartition on the "
    "partition column -> one file per day, directory swap), then read "
    "back and aggregated — the oracle is the SAME per-day expectation "
    "as append_log_sink_roundtrip, so compaction passing means the "
    "rewrite changed the file layout and nothing else. File-count "
    "shrinkage itself is asserted in tests/test_connectors.py (counts "
    "are layout-dependent, so they stay out of the hashed output).",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS dt,
               2 * count(*) AS n_rows,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE event_type = 'error'
        GROUP BY dt
        ORDER BY dt
    """,
)
def compaction_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.sources.connectors import compact_parquet

    stage = _stage_dir(spark, "compaction_log")
    shutil.rmtree(stage, ignore_errors=True)
    errs = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.date_format("ts", "yyyy-MM-dd").alias("dt"))
    )
    write_append_log(errs, stage)
    write_append_log(errs, stage)
    compact_parquet(spark, stage, partition_col="dt")
    back = spark.read.schema(errs.schema).parquet(stage)
    return (
        back.groupBy("dt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("dt").cast("string").alias("dt"), "n_rows", "n_users")
        .orderBy("dt")
    )


@register(
    "merge_upsert_documents",
    tags=("sink", "merge", "incremental"),
    doc="Partition-scoped MERGE upsert (the reference's daily upsert, "
    "dags/orbit_daily_update_dag.py:126-216, on the parquet substrate): "
    "the documents table staged as a lang-partitioned parquet target, "
    "then a synthetic nightly batch — re-crawls of every 7th de/en doc "
    "with +1000 chars, plus brand-new en docs at doc_id+500000 — "
    "merged via connectors.merge_upsert_partitioned: only the de/en "
    "partitions are rewritten (dynamic partition overwrite); es/fr/zh "
    "files stay byte-identical (asserted in tests/test_connectors.py). "
    "The returned table is the merged rows themselves, so the oracle "
    "(anti-join ∪ batch over the source table) hash-checks the full "
    "MERGE semantics: updates replace, inserts append, untouched rows "
    "survive. At 100 TB the per-batch cost is O(touched partitions); "
    "the delta-gate upgrade path (row-level file skipping within a "
    "partition) is documented at streaming/incremental.py::merge_upsert.",
    oracle="""
        WITH batch AS (
          SELECT doc_id, lang, n_chars + 1000 AS n_chars
          FROM documents WHERE doc_id % 7 = 0 AND lang IN ('de', 'en')
          UNION ALL
          SELECT doc_id + 500000 AS doc_id, 'en' AS lang,
                 doc_id % 997 AS n_chars
          FROM documents WHERE doc_id % 13 = 0
        )
        SELECT doc_id, lang, n_chars FROM batch
        UNION ALL
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d LEFT JOIN batch b USING (doc_id)
        WHERE b.doc_id IS NULL
        ORDER BY doc_id
    """,
)
def merge_upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.sources.connectors import merge_upsert_partitioned

    stage = _stage_dir(spark, "merge_target")
    shutil.rmtree(stage, ignore_errors=True)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # seed the target (first "day": full load)
    merge_upsert_partitioned(spark, stage, d, key="doc_id", part_col="lang")
    updates = d.filter(
        (F.col("doc_id") % 7 == 0) & F.col("lang").isin("de", "en")
    ).withColumn("n_chars", F.col("n_chars") + 1000)
    inserts = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.lit("en").alias("lang"),
        (F.col("doc_id") % 997).cast("long").alias("n_chars"),
    )
    merge_upsert_partitioned(
        spark, stage, updates.unionByName(inserts), key="doc_id", part_col="lang"
    )
    back = spark.read.schema(d.schema).parquet(stage)
    return back.select(
        "doc_id", F.col("lang").cast("string").alias("lang"), "n_chars"
    ).orderBy("doc_id")
