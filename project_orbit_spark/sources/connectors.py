"""Source connectors & sinks — SURVEY.md §2.1 S-family.

The reference reads a JSON seed (S1), walks a local text corpus with
path-derived keys (S7), parses RSS/Atom feeds (S4), unions
multi-format sources with a tag column (S8), and writes partitioned
page/entity artifacts and append-only logs (S11-S14). Re-expressed
as declarative readers/writers: `spark.read` + `input_file_name()`
partition derivation, `from_xml` feed parsing, `unionByName`
tagging, and `partitionBy` sinks (column pruning then comes free —
the reference strips raw_html by hand, SURVEY §4).

These are library functions exercised by tests (they manage paths,
not fixture tables, so they carry no DuckDB oracles).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import stage

SEED_SCHEMA = (
    "company_name string, website string, linkedin string, "
    "hq_city string, hq_country string, category string"
)

RSS_ITEM_SCHEMA = (
    "item array<struct<title:string, link:string, description:string, pubDate:string>>"
)


def read_json_seed(spark: SparkSession, path: str) -> DataFrame:
    """S1 seed scan (ref src/scraper_v2.py:4133-4145): JSON array of
    company rows; company_id derived from the website host
    (netloc minus 'www.', first dotted label)."""
    df = spark.read.schema(SEED_SCHEMA).option("multiLine", True).json(path)
    host = F.regexp_extract("website", r"^https?://(?:www\.)?([^/.]+)", 1)
    return df.withColumn("company_id", F.lower(host))


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """S7 local corpus scan (ref src/handle_chunking.py:12-25,114-140):
    recursive wholetext read; (company_id, page_type) derived from the
    file path — the reference's directory convention as columns."""
    df = (
        spark.read.option("recursiveFileLookup", True)
        .option("wholetext", True)
        .text(path)
    )
    fname = F.input_file_name()
    return df.select(
        F.col("value").alias("text"),
        F.regexp_extract(fname, r"/([^/]+)/[^/]+_clean\.txt$", 1).alias("company_id"),
        F.regexp_extract(fname, r"/([^/]+)_clean\.txt$", 1).alias("page_type"),
        fname.alias("source_path"),
    )


ATOM_FEED_SCHEMA = (
    "struct<entry: array<struct<title:string, link:struct<_href:string>, "
    "summary:string, content:string, published:string, updated:string, "
    "author:struct<name:string>>>>"
)


RSS_FEED_SCHEMA = (
    "struct<channel: struct<item: array<struct<title:string, "
    "link:string, description:string, pubDate:string, "
    "author:string>>>>"
)


def parse_rss_items(feeds: DataFrame, xml_col: str = "xml") -> DataFrame:
    """S4 feed scan, both dialects (ref src/scraper_v2.py:972-1042
    RSS item loop; src/news_extractor.py:60-89 feedparser-normalized
    entries): per-row dialect detection (<feed> root ⇒ Atom, else
    RSS 2.0 channel/item), one output row per item/entry with the
    reference's coalesce order across tag variants — summary|content
    for the excerpt, published|updated for the date, link text (RSS)
    vs link@href (Atom). Uses from_xml when available (Spark 4+),
    else a regex fallback for the same subsets.

    SINGLE-PASS: both dialects are normalized into one common item
    struct inside a per-row ``when(is_atom, …)`` — from_xml binds the
    schema at the ROOT element, and only the taken branch's parse
    evaluates per row. The earlier filter-per-dialect + union shape
    referenced the upstream plan twice, which recomputes the whole
    feed derivation (2 scans, measured in the plan) — at 100 TB that
    doubles the dominant stage for zero benefit."""
    xml = F.col(xml_col)
    is_atom = xml.rlike(r"<feed[\s>]")

    def item_struct(title, url, summary, published, author):
        return F.struct(
            title.alias("title"),
            url.alias("url"),
            summary.alias("summary"),
            published.alias("published"),
            author.alias("author"),
        )

    try:
        rss_items = F.transform(
            F.from_xml(xml, RSS_FEED_SCHEMA)["channel"]["item"],
            lambda it: item_struct(
                it["title"], it["link"], it["description"], it["pubDate"], it["author"]
            ),
        )
        atom_items = F.transform(
            F.from_xml(xml, ATOM_FEED_SCHEMA)["entry"],
            lambda it: item_struct(
                it["title"],
                it["link"]["_href"],
                F.coalesce(it["summary"], it["content"]),
                F.coalesce(it["published"], it["updated"]),
                it["author"]["name"],
            ),
        )
        return (
            feeds.select(
                "feed_id",
                F.explode(F.when(is_atom, atom_items).otherwise(rss_items)).alias("it"),
            )
            .select("feed_id", "it.title", "it.url", "it.summary", "it.published", "it.author")
        )
    except Exception:  # noqa: BLE001 — from_xml unavailable: regex subset
        tag = lambda body, t: F.regexp_extract(body, rf"(?s)<{t}[^>]*>(.*?)</{t}>", 1)
        opt = lambda c: F.when(c != "", c)  # '' → null so coalesce works
        rss = feeds.filter(~is_atom).select(
            "feed_id",
            F.explode(
                F.regexp_extract_all(xml, F.lit(r"(?s)<item>(.*?)</item>"), 1)
            ).alias("body"),
        )
        rss = rss.select(
            "feed_id",
            tag(F.col("body"), "title").alias("title"),
            tag(F.col("body"), "link").alias("url"),
            tag(F.col("body"), "description").alias("summary"),
            tag(F.col("body"), "pubDate").alias("published"),
            tag(F.col("body"), "author").alias("author"),
        )
        atom = feeds.filter(is_atom).select(
            "feed_id",
            F.explode(
                F.regexp_extract_all(xml, F.lit(r"(?s)<entry>(.*?)</entry>"), 1)
            ).alias("body"),
        )
        atom = atom.select(
            "feed_id",
            tag(F.col("body"), "title").alias("title"),
            F.regexp_extract(F.col("body"), r'<link[^>]*href="([^"]*)"', 1).alias("url"),
            F.coalesce(
                opt(tag(F.col("body"), "summary")), opt(tag(F.col("body"), "content"))
            ).alias("summary"),
            F.coalesce(
                opt(tag(F.col("body"), "published")), opt(tag(F.col("body"), "updated"))
            ).alias("published"),
            F.regexp_extract(
                F.col("body"), r"(?s)<author[^>]*>.*?<name>(.*?)</name>", 1
            ).alias("author"),
        )
        return rss.unionByName(atom)


def union_tagged_sources(**sources: DataFrame) -> DataFrame:
    """S8 multi-format union (ref src/structured_extraction_v2.py:
    835-1217): one tagged frame, missing columns null-filled."""
    out = None
    for kind, df in sources.items():
        tagged = df.withColumn("source_kind", F.lit(kind))
        out = tagged if out is None else out.unionByName(tagged, allowMissingColumns=True)
    if out is None:
        raise ValueError("no sources given")
    return out


def _xxhashable(dt) -> bool:
    """True when xxhash64 accepts the type — MapType is unordered and
    unsupported at any nesting depth."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str],
    mode: str = "overwrite",
    files_per_partition: int | None = None,
    max_records_per_file: int | None = None,
    salt_cols: list[str] | None = None,
) -> None:
    """S11/S12/S13 artifact sinks (ref src/scraper_v2.py:3863-3894):
    parquet partitioned by the artifact key columns — partition
    pruning replaces the reference's per-company directory layout.

    100 TB file-count control: by default every upstream task writes
    its own file into every partition directory it touches — N shuffle
    partitions × P partition values files, the classic small-files
    explosion. ``files_per_partition=k`` repartitions on
    (partition_cols, deterministic row-hash salt % k) first, so each
    directory gets AT MOST k files while hot partitions still spread
    over k writer tasks (k=1 is the compact layout but serializes a
    hot partition through one task — pick k ≈ partition bytes /
    target file size). The salt is xxhash64 over ``salt_cols`` when
    given — pass a stable key subset (e.g. the row's id) so the file
    layout doesn't shift when unrelated columns are added — else over
    every xxhash64-SUPPORTED column (MapType at any nesting depth is
    excluded rather than erroring at runtime; ADVICE r9). Never RNG
    (hygiene rule: reruns produce identical layouts). If no hashable
    column exists the salt degrades to a constant — one writer task
    per partition, still correct. ``max_records_per_file``
    additionally caps rows per file (Spark splits oversize writer
    outputs), bounding the memory a downstream whole-file reader
    needs."""
    out = df
    if files_per_partition is not None:
        if salt_cols is not None:
            missing = [c for c in salt_cols if c not in df.columns]
            if missing:
                raise ValueError(f"salt_cols not in DataFrame: {missing}")
            key_cols = list(salt_cols)
        else:
            key_cols = [
                f.name for f in df.schema.fields if _xxhashable(f.dataType)
            ]
        salt = (
            F.pmod(
                F.xxhash64(*[F.col(c) for c in key_cols]),
                F.lit(files_per_partition),
            )
            if key_cols
            else F.lit(0)
        )
        out = df.repartition(*[F.col(c) for c in partition_cols], salt)
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_cols).parquet(path)


def write_append_log(df: DataFrame, path: str, *, dt_col: str = "dt") -> None:
    """S14 risk-log append sink (ref src/risk_detection.py:136-140):
    append-mode, one partition per day."""
    df.write.mode("append").partitionBy(dt_col).parquet(path)


def write_range_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout for data skipping on a
    non-partition column: repartitionByRange splits the value domain
    into disjoint slices (sampled range bounds), sortWithinPartitions
    orders rows inside each file, so every file's footer min/max for
    ``cluster_col`` is a tight disjoint interval. A later
    ``WHERE cluster_col BETWEEN …`` scan row-group-skips everything
    but the overlapping files — the poor engineer's Z-ORDER, and the
    right layout when the column's cardinality is too high for
    directory partitioning (partitionBy on a float or an id would
    create one directory per value). At 100 TB: n_files scales with
    data volume, bounds sampling is one extra job over the sort
    column only."""
    (
        df.repartitionByRange(n_files, cluster_col)
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_key(c1, c2, bits: int = 16):
    """Interleave the bits of two rank-normalized columns into one
    Z-order (Morton) key. Inputs must already be scaled to integer
    ranks in [0, 2^bits) — see ``write_zordered`` which derives ranks
    with ntile so skew cannot collapse the curve. Pure bitwise
    expressions (shiftleft/|), whole-stage-codegen eligible."""
    key = F.lit(0).cast("long")
    for i in range(bits):
        bit1 = F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1))
        bit2 = F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1))
        key = key.bitwiseOR(F.shiftleft(bit1, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bit2, 2 * i)
        )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    col1: str,
    col2: str,
    n_files: int = 8,
    bits: int = 10,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: data skipping on EITHER of
    two high-cardinality columns from one layout (range clustering
    can only serve one). Each column is rank-normalized with ntile
    (equi-depth, so value skew cannot collapse the curve the way
    min/max scaling would), ranks are bit-interleaved into a Morton
    key, and files are range-split + sorted on that key — every
    file's footer then covers a small rectangle of the (col1, col2)
    plane, so a predicate on either column row-group-skips most
    files. This is the layout OPTIMIZE ZORDER BY computes in lake
    formats, expressed as plain DataFrame ops. Ranks come from
    percentile_approx bounds broadcast back over the scan — one
    distributed aggregate, never a global-window sort — so the
    layout job itself scales: at 100 TB it is two sketch passes plus
    the final range write, and n_files scales with volume."""
    n = 1 << bits
    qs = [i / n for i in range(1, n)]
    bounds = df.agg(
        F.percentile_approx(col1, qs, 10000).alias("__b1"),
        F.percentile_approx(col2, qs, 10000).alias("__b2"),
    )
    rank = lambda col, b: F.aggregate(  # noqa: E731 — #bounds ≥ value
        b, F.lit(0), lambda acc, bound: acc + (F.col(col) >= bound).cast("int")
    )
    keyed = (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__zkey", zorder_key(rank(col1, "__b1"), rank(col2, "__b2"), bits))
        .drop("__b1", "__b2")
    )
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def read_json_bronze(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Bronze-layer JSON reader (SURVEY §1.3: raw layer is schemaless
    dict-of-anything with defensive checks): PERMISSIVE mode with
    _corrupt_record captured, so bad rows survive into quarantine
    instead of failing the batch (ref skip-and-continue at
    src/structured_extraction_v2.py:2300-2302)."""
    full_schema = schema + ", _corrupt_record string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined) — ST5 dead-letter routing. Cache the input
    first when both halves are consumed (PERMISSIVE parsing is
    per-pass)."""
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def upsert_parquet(spark: SparkSession, state_path: str, batch: DataFrame, key: str) -> None:
    """MERGE-style upsert into a parquet state table (ST1's sink half;
    with a lake format this is a one-line MERGE — parquet needs
    read + anti-join + union + atomic-ish rewrite)."""
    import os

    if any(
        f.endswith(".parquet") for f in (os.listdir(state_path) if os.path.isdir(state_path) else [])
    ) or os.path.isdir(state_path) and os.listdir(state_path):
        current = spark.read.parquet(state_path)
        kept = current.join(batch, key, "left_anti")
        merged = kept.unionByName(batch)
    else:
        merged = batch
    tmp = state_path.rstrip("/") + "__staged"
    merged.write.mode("overwrite").parquet(tmp)
    final = spark.read.parquet(tmp)
    final.write.mode("overwrite").parquet(state_path)


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    key: str,
    part_col: str,
) -> int:
    """Partition-scoped MERGE into a parquet table partitioned on
    ``part_col`` — the pre-lake-format production upsert (and the
    strongest MERGE this delta-less substrate can execute): rewrite
    ONLY the partitions containing batch rows via dynamic partition
    overwrite, leaving every untouched partition's files byte-
    identical on disk. Per-batch cost is O(touched partitions), not
    ``upsert_parquet``'s O(table) rewrite — the parquet analog of
    Delta MERGE's file skipping (ref daily upsert
    dags/orbit_daily_update_dag.py:126-216), with the residual gap
    (row-level file skipping WITHIN a partition, concurrent-writer
    safety) documented in streaming/incremental.py::merge_upsert's
    delta gate.

    Returns the number of partitions rewritten. The touched-partition
    list is collected to the driver: it is bounded by the BATCH's
    partition-value domain (a lang set, a handful of dt days —
    business-bounded), never by table or batch row count.

    CALLER CONTRACT: ``part_col`` must be a STABLE function of the
    key (a doc's lang, an event's dt) — the standard constraint for
    partition-scoped upserts. A key that moved partitions would leave
    its old row in a directory this batch never reads or rewrites
    (finding the old copy requires an O(table) key scan, which is the
    file-skipping problem lake formats exist to solve). Property-
    pinned under the contract in tests/test_properties.py::
    test_merge_upsert_partitioned_matches_dict_merge.

    Idempotent: re-applying the same batch rewrites the same
    partitions to the same contents. The merged rows are staged to a
    side directory first (read-your-overwrite is an AnalysisException
    on path-based parquet), then committed with
    partitionOverwriteMode=dynamic so partitions absent from the
    staged set are untouched by the overwrite.
    """
    import os
    import shutil

    exists = os.path.isdir(target_path) and any(
        not f.startswith(("_", ".")) for f in os.listdir(target_path)
    )
    if not exists:
        write_partitioned(batch, target_path, partition_cols=[part_col])
        return batch.select(part_col).distinct().count()

    parts = [r[0] for r in batch.select(part_col).distinct().collect()]
    current = spark.read.parquet(target_path).filter(F.col(part_col).isin(parts))
    merged = current.join(batch, key, "left_anti").unionByName(batch)

    staged = target_path.rstrip("/") + "__merge_staged"
    shutil.rmtree(staged, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staged)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            spark.read.parquet(staged)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(target_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    shutil.rmtree(staged, ignore_errors=True)
    return len(parts)


def stream_upsert_foreachbatch(
    spark: SparkSession, stream_df: DataFrame, state_path: str, key: str
):
    """ST1 streaming form (ref incremental DAG semantics dags/orbit_
    daily_update_dag.py:106-216): foreachBatch applying the upsert —
    run with .trigger(availableNow=True) for the batch-incremental
    cron execution (ST3)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:  # noqa: ARG001
        upsert_parquet(spark, state_path, batch_df, key)

    return stream_df.writeStream.foreachBatch(apply)


def stream_merge_partitioned_foreachbatch(
    spark: SparkSession,
    stream_df: DataFrame,
    target_path: str,
    key: str,
    part_col: str,
):
    """Streaming twin of ``merge_upsert_partitioned``: each micro-batch
    MERGEs into the partitioned target, rewriting only the partitions
    that batch touches — the O(touched) nightly upsert as a
    ``foreachBatch`` sink (same seam as the curation stream). The
    per-batch merge is idempotent under replay for a deterministic
    batch (anti-join + dynamic overwrite of the same partitions), the
    usual exactly-once-by-idempotence argument for foreachBatch sinks.
    AvailableNow parity with the batch face is pinned in
    tests/test_streaming.py."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:  # noqa: ARG001
        merge_upsert_partitioned(spark, target_path, batch_df, key, part_col)

    return stream_df.writeStream.foreachBatch(apply)


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    partition_col: str = "dt",
    max_records_per_file: int | None = None,
) -> tuple[int, int]:
    """Small-file compaction for the append-log sink family (S14) —
    the maintenance op every append-mode layout eventually needs:
    each daily append lands one-or-more new files per partition, and
    at 100 TB a year of appends turns scans into a
    file-listing/open-overhead problem long before a byte problem.

    Rewrites the log with rows repartitioned ON the partition column
    (all rows of a partition hash to one task, so each partition dir
    collapses to one file; ``max_records_per_file`` re-splits
    oversized partitions at write time via Spark's own
    maxRecordsPerFile), then swaps the directory. Contents are
    byte-for-byte the same relation — which is exactly what the
    compaction_log_roundtrip oracle checks. The swap is
    NOT transactional (readers racing the swap see the old or new
    listing, a brief window of neither on a posix rename chain) — on
    a lake format this op is Delta OPTIMIZE / Iceberg rewrite_data_
    files, transactional by design; same upgrade gate as merge_upsert.

    Returns (data_files_before, data_files_after).
    """
    import glob
    import os
    import shutil

    def _count_files(p: str) -> int:
        return sum(1 for f in glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    before = _count_files(path)
    if before == 0 and os.path.isdir(path):  # an empty log: no schema to infer
        return 0, 0
    df = spark.read.parquet(path)
    writer = df.repartition(F.col(partition_col)).write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    staging = path.rstrip("/") + ".compacting"
    shutil.rmtree(staging, ignore_errors=True)
    writer.partitionBy(partition_col).parquet(staging)
    old = path.rstrip("/") + ".precompact"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return before, _count_files(path)


def expire_partitions(
    spark: SparkSession,  # noqa: ARG001 — signature symmetry with the other sinks
    path: str,
    *,
    partition_col: str = "dt",
    keep_latest: int,
) -> list[str]:
    """Retention for the append-log layout — compaction's lifecycle
    sibling: drop every ``partition_col=<value>`` directory except the
    ``keep_latest`` lexicographically-newest values (dt strings are
    ISO dates, so lexicographic = chronological). Directory-level
    deletes only — never rewrites surviving data, so cost is O(dropped
    partitions) regardless of table size, the property that makes
    daily retention affordable at 100 TB. On a lake format this is
    DELETE + VACUUM / expire_snapshots, transactional by design —
    same upgrade gate as compact_parquet. Returns the dropped values
    (oldest first) so callers can log/audit the retention action."""
    import os
    import shutil

    if keep_latest < 1:
        # a dynamically-computed horizon underflowing to <=0 must not
        # silently become "delete every partition"
        raise ValueError(f"keep_latest must be >= 1, got {keep_latest}")
    prefix = f"{partition_col}="
    vals = sorted(
        e.name[len(prefix):]
        for e in os.scandir(path)
        if e.is_dir() and e.name.startswith(prefix)
    )
    drop = vals[:-keep_latest]
    for v in drop:
        shutil.rmtree(os.path.join(path, prefix + v))
    return drop


def refresh_index(
    spark: SparkSession,
    name: str,
    seed: DataFrame,
    batch: DataFrame,
    verdict: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """One maintenance cycle of a ``dt``-partitioned index, with a
    probe's verdict against the index after each op: ``seed`` (which
    carries its own ``dt`` days) is written, ``batch`` is appended as
    ``dt=2026-01-04``, then ``verdict(<index read>)`` runs after that
    merge, after ``compact_parquet`` and after ``expire_partitions(
    keep_latest=3)``. Returns the three verdicts, tagged ``stage`` =
    merged / compacted / expired, as one frame.

    Each verdict is a stage barrier because the next op rewrites or
    deletes the files its lazy plan reads. The staging dir carries a
    per-invocation nonce: a fixed path would let two concurrent
    invocations in one session (a bench run and a parity run) corrupt
    each other's index mid-cycle. uuid4 reads the OS entropy pool, not
    a seeded PRNG, and no result depends on the path. Once the three
    barriers hold the verdicts the dir is dead weight; it is removed
    then, or when the cycle fails."""
    import shutil
    import uuid

    from project_orbit_spark.sources.roundtrip import _stage_dir

    path = _stage_dir(spark, f"{name}_{uuid.uuid4().hex[:12]}")

    def after(op: str) -> DataFrame:
        index = spark.read.schema(seed.schema).parquet(path)
        return stage(verdict(index).withColumn("stage", F.lit(op)), f"{name}.{op}")

    try:
        seed.write.mode("overwrite").partitionBy("dt").parquet(path)
        batch.withColumn("dt", F.lit("2026-01-04")).write.mode("append").partitionBy("dt").parquet(path)
        merged = after("merged")
        compact_parquet(spark, path, partition_col="dt")
        compacted = after("compacted")
        expire_partitions(spark, path, partition_col="dt", keep_latest=3)
        expired = after("expired")
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return merged.unionByName(compacted).unionByName(expired)
