"""Training-corpus curation operators — the pipeline stages between a
raw 100 TB crawl and a training run that the reference's platform
(corpus ingest + dedup + embedding, SURVEY.md §3.1) stops short of:
deterministic splits, stratified sampling, sequence packing,
benchmark-contamination checks, PII scrubbing, and repetition scoring
(the Gopher/C4-style quality rules).

All derivations are hash- or window-based Spark SQL expressions —
no Python in the hot path, no sampling nondeterminism (split/sample
membership is a pure function of the row, so re-runs and backfills
agree), and every operator carries a DuckDB oracle.

Scale notes: splits/sampling/PII/repetition are embarrassingly
parallel scans. Packing is one shuffle per stratum (window by lang).
Contamination is a broadcast semi-join when the benchmark set is
small — the usual case — and a shuffle join otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from project_orbit_spark.catalog import load, maybe_broadcast, observed, stage
from project_orbit_spark.operators.dedup import join_clusters, minhash_pairs, word_shingles
from project_orbit_spark.registry import register
from project_orbit_spark.session import memo
from project_orbit_spark.similarity.lsh import _duck_auto_bucket as _lsh_duck_auto_bucket
from project_orbit_spark.similarity.lsh import _duck_bucket as _lsh_duck_bucket
from project_orbit_spark.similarity.lsh import lsh_bucket as _lsh_bucket


def hash_bucket(key: Column, salt: str = "", buckets: int = 100) -> Column:
    """Deterministic engine-portable bucket in [0, buckets): 32-bit
    md5-prefix int of (salt || key) mod buckets. The md5 basis (not
    Spark's hash()/xxhash64) keeps membership reproducible in any
    engine, so a split made here can be re-derived by the oracle —
    or by a later non-Spark consumer — bit-for-bit."""
    salted = F.concat(F.lit(salt), key.cast("string"))
    return (F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long") % buckets).alias(
        "bucket"
    )


def split_of(bucket: Column) -> Column:
    """The 80/10/10 train/val/test rule over a ``hash_bucket`` in [0, 100)."""
    return F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")


def _duck_bucket(key_sql: str, salt: str = "") -> str:
    return (
        f"CAST(CAST(('0x' || substring(md5('{salt}' || {key_sql}), 1, 8)) AS UBIGINT) "
        "AS BIGINT) % 100"
    )


@register(
    "train_val_test_split",
    tags=("corpus", "sampling"),
    doc="Deterministic 80/10/10 train/val/test assignment by hashed "
    "doc_id — membership is a pure function of the row (stable under "
    "re-runs, backfills, and engine changes), never rand()-based.",
    oracle=f"""
        SELECT doc_id,
               {_duck_bucket("CAST(doc_id AS VARCHAR)")} AS bucket,
               CASE WHEN {_duck_bucket("CAST(doc_id AS VARCHAR)")} < 80 THEN 'train'
                    WHEN {_duck_bucket("CAST(doc_id AS VARCHAR)")} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    return d.select(
        "doc_id",
        bucket,
        split_of(bucket).alias("split"),
    ).orderBy("doc_id")


@register(
    "stratified_sample_langs",
    tags=("corpus", "sampling"),
    doc="Deterministic stratified downsampling: per-language keep "
    "rates (en 10%, others 30% — the rebalance a crawl-dominant "
    "language needs) via salted hash buckets, so the sample is "
    "reproducible row-for-row, unlike df.sampleBy's seeded RNG which "
    "is implementation-defined across engines/versions.",
    oracle=f"""
        SELECT doc_id, lang,
               {_duck_bucket("CAST(doc_id AS VARCHAR)", salt="strat|")} AS bucket
        FROM documents
        WHERE {_duck_bucket("CAST(doc_id AS VARCHAR)", salt="strat|")}
              < CASE WHEN lang = 'en' THEN 10 ELSE 30 END
        ORDER BY doc_id
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), salt="strat|")
    rate = F.when(F.col("lang") == "en", 10).otherwise(30)
    return (
        d.select("doc_id", "lang", bucket)
        .filter(F.col("bucket") < rate)
        .orderBy("doc_id")
    )


PACK_SHARDS = 16


@register(
    "pack_sequences_budget",
    tags=("corpus", "window"),
    doc="Sequence packing with concat-and-chop semantics (documents "
    "concatenated in doc_id order, then chopped into 512-token windows "
    "— the standard LLM pretraining layout). Each language stratum is "
    "hash-sharded (doc_id % 16) and packed per (lang, shard), so the "
    "running-sum window never serializes a whole language through one "
    "task — at 100 TB every shard packs independently and pack "
    "identity is (lang, shard, pack_id). pack_id and intra-pack "
    "offset derive from an exclusive running token sum; one window "
    "shuffle, no stateful loop.",
    oracle=f"""
        SELECT doc_id, lang, shard, n_tokens,
               CAST(floor(cum_excl / 512) AS BIGINT) AS pack_id,
               CAST(cum_excl % 512 AS BIGINT) AS start_offset
        FROM (
          SELECT doc_id, lang, shard, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   PARTITION BY lang, shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          FROM (
            SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
                   CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                     AS n_tokens
            FROM documents
          )
        )
        ORDER BY lang, shard, doc_id
    """,
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return toks.select(
        "doc_id",
        "lang",
        "shard",
        "n_tokens",
        F.floor(cum_excl / 512).cast("long").alias("pack_id"),
        (cum_excl % 512).cast("long").alias("start_offset"),
    ).orderBy("lang", "shard", "doc_id")


@register(
    "benchmark_contamination",
    tags=("corpus", "dedup"),
    doc="Benchmark-contamination check: every-97th doc stands in for "
    "a held-out eval set; corpus docs sharing any 8-word shingle with "
    "it are flagged with their shared-shingle count. Contamination is "
    "injected (every 13th corpus doc gets benchmark doc 0's leading "
    "12 tokens appended → exactly 5 shared 8-grams) because the "
    "synthetic corpus has no natural cross-doc 8-gram repeats — a "
    "0-row result would leave the oracle vacuous. The benchmark "
    "shingle set is small by construction, so the join broadcasts at "
    "scale; corpus shingles stream past it.",
    oracle="""
        WITH snip AS (
          SELECT array_to_string(
                   string_split_regex(trim(lower(text)), '\\s+')[1:12], ' ') AS s
          FROM documents WHERE doc_id = 0
        ),
        corpus AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0 AND doc_id % 97 <> 0
                      THEN text || ' ' || (SELECT s FROM snip)
                      ELSE text END AS text
          FROM documents
        ),
        shingled AS (
          SELECT doc_id,
                 list_distinct([array_to_string(t[i:i+7], ' ')
                                for i in range(1, greatest(len(t) - 7, 1) + 1)])
                   AS shingles
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM corpus)
        ),
        bench AS (
          SELECT DISTINCT unnest(shingles) AS g FROM shingled WHERE doc_id % 97 = 0
        ),
        corp AS (
          SELECT doc_id, unnest(shingles) AS g FROM shingled WHERE doc_id % 97 <> 0
        )
        SELECT c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared
        FROM corp c JOIN bench b ON c.g = b.g
        GROUP BY c.doc_id
        ORDER BY doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    snip = docs.filter(F.col("doc_id") == 0).select(
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.lower("text")), r"\s+"), 1, 12)
        ).alias("snippet")
    )
    contaminated = docs.crossJoin(F.broadcast(snip)).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 97 != 0),
            F.concat("text", F.lit(" "), "snippet"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = contaminated.select("doc_id", word_shingles("text", 8).alias("sh"))
    ex = d.select("doc_id", F.explode("sh").alias("g"))
    bench = ex.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    corp = ex.filter(F.col("doc_id") % 97 != 0)
    return (
        corp.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").cast("long").alias("n_shared"))
        .orderBy("doc_id")
    )


@register(
    "corpus_mixture_sample",
    tags=("corpus", "sampling"),
    doc="Token-budget corpus mixing: spend a 50%-of-corpus token "
    "budget uniformly across languages. Per-language sampling rates "
    "derive from exact BIGINT token totals (rate = budget-share / "
    "lang tokens, capped at 1), then docs are kept by a 10k-grain "
    "salted hash bucket — membership stays a pure function of the "
    "row. Plan: one scan + tiny per-lang aggregate broadcast back; "
    "no full-data shuffle at any size.",
    oracle="""
        WITH toks AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
        ),
        per_lang AS (
          SELECT lang, sum(n_tokens) AS lang_tokens FROM toks GROUP BY lang
        ),
        tot AS (
          SELECT sum(lang_tokens) AS total_tokens,
                 count(*) AS n_langs
          FROM per_lang
        ),
        rates AS (
          SELECT lang,
                 least(1.0,
                       (0.5 * total_tokens / n_langs) / lang_tokens) AS rate
          FROM per_lang CROSS JOIN tot
        )
        SELECT t.doc_id, t.lang, t.n_tokens,
               round(r.rate, 6) AS sample_rate
        FROM toks t JOIN rates r ON t.lang = r.lang
        WHERE CAST(CAST(('0x' || substring(
                md5('mix|' || CAST(t.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
              AS BIGINT) % 10000 < CAST(floor(r.rate * 10000) AS BIGINT)
        ORDER BY doc_id
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    per_lang = toks.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    tot = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    rates = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("total_tokens") / F.col("n_langs"))
            / F.col("lang_tokens"),
        ).alias("rate"),
    )
    bucket = hash_bucket(F.col("doc_id"), "mix|", 10000)
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(bucket < F.floor(F.col("rate") * 10000).cast("long"))
        .select("doc_id", "lang", "n_tokens", F.round("rate", 6).alias("sample_rate"))
        .orderBy("doc_id")
    )


@register(
    "temperature_mixture_sample",
    tags=("corpus", "sampling"),
    doc="Temperature-based multilingual sampling (public: XLM, Lample "
    "& Conneau 2019 §3.1 — per-language share proportional to "
    "p_l^alpha with alpha=0.5, the square-root flattening mT5/XLM-R "
    "generalize): head languages are down-sampled and tail languages "
    "up-weighted toward a 50%-of-corpus doc budget; per-lang keep "
    "rate = min(1, budget_share / n_docs), membership by the same "
    "10k-grain salted-md5 bucket corpus_mixture_sample uses (a pure "
    "function of the row — re-runs and engines agree bit-for-bit, "
    "never rand()). Numeric contract: the language weight is "
    "floor(sqrt(n_docs) * 1000) — sqrt is IEEE correctly-rounded, so "
    "quantizing to an exact BIGINT removes any cross-engine "
    "float-summation-order from the normalizer; every later op is a "
    "single deterministic double expression, parenthesized "
    "identically in both engines. Plan: one scan + a per-lang "
    "aggregate (bounded by the language inventory, ~hundreds at "
    "100 TB) broadcast back; no full-data shuffle at any size.",
    oracle="""
        WITH per_lang AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY lang
        ),
        w AS (
          SELECT lang, n_docs,
                 CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000)
                   AS BIGINT) AS wt
          FROM per_lang
        ),
        tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
                 CAST(sum(wt) AS BIGINT) AS z
          FROM w
        ),
        rates AS (
          SELECT lang, n_docs,
                 least(1.0,
                   ((0.5 * total_docs) * (CAST(wt AS DOUBLE) / z))
                     / n_docs) AS rate
          FROM w CROSS JOIN tot
        )
        SELECT d.doc_id, d.lang, r.n_docs AS lang_docs,
               floor(r.rate * 1000000) / 1000000 AS sample_rate
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(CAST(('0x' || substring(
                md5('temp|' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
              AS BIGINT) % 10000 < CAST(floor(r.rate * 10000) AS BIGINT)
        ORDER BY doc_id
    """,
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = per_lang.withColumn(
        "wt",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000).cast("long"),
    )
    tot = w.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("wt").alias("z")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            (
                (F.lit(0.5) * F.col("total_docs"))
                * (F.col("wt").cast("double") / F.col("z"))
            )
            / F.col("n_docs"),
        ).alias("rate"),
    )
    bucket = hash_bucket(F.col("doc_id"), "temp|", 10000)
    return (
        d.select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .filter(bucket < F.floor(F.col("rate") * 10000).cast("long"))
        .select(
            "doc_id",
            "lang",
            F.col("n_docs").alias("lang_docs"),
            (F.floor(F.col("rate") * 1000000) / 1000000).alias("sample_rate"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_shuffle_shards",
    tags=("corpus", "sampling"),
    doc="Deterministic training-shuffle: each doc gets a shard (salted "
    "md5 mod 8) and a position (rank of its md5 order-key within the "
    "shard) — the global random-looking read order an LLM trainer "
    "wants, reproducible bit-for-bit across engines and re-runs, "
    "never rand(). One hash partition + per-shard sort, exactly the "
    "write path of a sharded shuffled export.",
    oracle="""
        WITH keyed AS (
          SELECT doc_id,
                 md5('shuf|' || CAST(doc_id AS VARCHAR)) AS order_key
          FROM documents
        )
        SELECT doc_id,
               CAST(CAST(('0x' || substring(order_key, 1, 8)) AS UBIGINT)
                    AS BIGINT) % 8 AS shard,
               CAST(row_number() OVER (
                 PARTITION BY CAST(CAST(('0x' || substring(order_key, 1, 8))
                   AS UBIGINT) AS BIGINT) % 8
                 ORDER BY order_key, doc_id) AS BIGINT) AS position
        FROM keyed
        ORDER BY shard, position
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(F.concat(F.lit("shuf|"), F.col("doc_id").cast("string"))).alias("order_key"),
    ).withColumn(
        "shard",
        F.conv(F.substring("order_key", 1, 8), 16, 10).cast("long") % 8,
    )
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (
        keyed.select(
            "doc_id", "shard", F.row_number().over(w).cast("long").alias("position")
        ).orderBy("shard", "position")
    )


@register(
    "embedding_quantize_int8",
    tags=("corpus", "similarity"),
    doc="Symmetric int8 embedding quantization (per-vector scale = "
    "max|x|/127) with reconstruction-error audit — the 4x storage "
    "cut an embedding corpus takes before ANN serving. Widens "
    "float32 to float64 first so Spark and the oracle compute on "
    "identical values; pure array expressions, zero shuffle, "
    "embarrassingly parallel at any corpus size.",
    oracle="""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        s AS (
          SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-12)
                   / 127.0 AS scale
          FROM v
        ),
        q AS (
          SELECT vec_id, v, scale,
                 list_transform(v, x -> CAST(round(x / scale) AS BIGINT)) AS q
          FROM s
        )
        SELECT vec_id,
               CAST(len(v) AS BIGINT) AS dim,
               round(scale, 8) AS scale,
               CAST(list_sum(q) AS BIGINT) AS q_sum,
               round(list_max([abs(q[i] * scale - v[i])
                               for i in range(1, len(v) + 1)]), 8) AS max_abs_err
        FROM q
        ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    staged = (
        e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .withColumn(
            "scale_raw",
            F.greatest(F.array_max(F.transform("v", F.abs)), F.lit(1e-12)) / F.lit(127.0),
        )
        .withColumn(
            "q",
            F.transform("v", lambda x: F.round(x / F.col("scale_raw")).cast("long")),
        )
    )
    # distinct name: an output column aliased "scale" would otherwise
    # win name resolution and feed the ROUNDED scale into the error
    err = F.array_max(
        F.zip_with("q", "v", lambda qi, xi: F.abs(qi * F.col("scale_raw") - xi))
    )
    return staged.select(
        "vec_id",
        F.size("v").cast("long").alias("dim"),
        F.round("scale_raw", 8).alias("scale"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.round(err, 8).alias("max_abs_err"),
    ).orderBy("vec_id")


_EMAIL_RE = r"[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "pii_scrub_text",
    tags=("corpus", "text"),
    doc="PII scrubbing: deterministic email/phone injections (every "
    "4th / 5th doc) redacted to [EMAIL]/[PHONE] tokens with per-doc "
    "match counts — regexp_replace/extract_all only, codegen-"
    "eligible, zero shuffle.",
    oracle=f"""
        WITH synth AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 4 = 0
                      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                      ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                      THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END AS t
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
               substring(
                 regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                '{_PHONE_RE}', '[PHONE]', 'g'),
                 greatest(1, length(regexp_replace(
                   regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{_PHONE_RE}', '[PHONE]', 'g')) - 79), 80) AS scrubbed_tail
        FROM synth
        ORDER BY doc_id
    """,
)
def pii_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(synth, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    # 80-char tail so the redaction sites (appended at the end) are
    # value-checked, not just counted
    tail = scrubbed.substr(
        F.greatest(F.lit(1), F.length(scrubbed) - 79), F.lit(80)
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        tail.alias("scrubbed_tail"),
    ).orderBy("doc_id")


@register(
    "max_bigram_repetition",
    tags=("corpus", "text"),
    doc="Gopher-style repetition scoring: per doc, the most frequent "
    "word bigram's share of all bigrams (non-distinct). High ratios "
    "mark boilerplate/spam for the quality filter. One explode + two "
    "hash aggregates, map-side partials throughout.",
    oracle="""
        WITH grams AS (
          SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                 for i in range(1, len(t))]) AS g
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents)
        ),
        counted AS (
          SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_bigrams,
               CAST(max(c) AS BIGINT) AS max_count,
               round(max(c)::DOUBLE / sum(c)::DOUBLE, 4) AS repetition_ratio
        FROM counted
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def max_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    sz = F.size(toks)
    # non-distinct bigrams: zip the token list with its 1-shift
    bigrams = F.transform(
        F.arrays_zip(
            F.slice(toks, 1, F.greatest(sz - 1, F.lit(0))),
            F.slice(toks, 2, F.greatest(sz - 1, F.lit(0))),
        ),
        lambda s: F.concat_ws(" ", s["0"], s["1"]),
    )
    grams = d.select("doc_id", F.explode(bigrams).alias("g"))
    counted = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        counted.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("max_count"),
            F.round(F.max("c").cast("double") / F.sum("c").cast("double"), 4).alias(
                "repetition_ratio"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "semantic_decontamination",
    tags=("corpus", "dedup", "embedding", "lsh"),
    bench=True,
    doc="Semantic benchmark decontamination — the embedding-level "
    "cousin of benchmark_contamination (which catches verbatim 8-gram "
    "leaks; paraphrased eval items share no shingle but sit at high "
    "cosine). Every 50th vector stands in for the held-out eval set; "
    "contamination is injected (each eval vector cloned into the "
    "training side at +10000) so the oracle is never vacuous. A "
    "training doc whose cosine to ANY eval vector reaches 0.98 is "
    "removed; the best match (highest sim, lowest eval id tie-break) "
    "is reported for audit. Scale shape: the eval set is small by "
    "construction (eval suites are thousands of items, the corpus is "
    "billions), so it BROADCASTS and the training side is scanned "
    "map-only — no shuffle of the corpus, the same O(new-vs-index) "
    "face as incremental_embedding_dedup but with train as the big "
    "side. Candidate comparisons are cut by (label, LSH sub-bucket) "
    "equality inside the broadcast hash join — width self-scaled "
    "from the corpus size via auto_planes; the oracle derives the "
    "SAME width in SQL from the same count (_duck_auto_bucket), so "
    "it tracks any corpus size. Recall trade stated there applies "
    "(exact copies always collide).",
    oracle=f"""
        WITH emb AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        bucketed AS (
          SELECT vec_id, label, emb,
                 {_lsh_duck_auto_bucket("emb", "SELECT count(*) FROM embeddings")} AS bucket
          FROM emb
        ),
        eval_set AS (
          SELECT vec_id AS eval_id, label, emb, bucket
          FROM bucketed WHERE vec_id % 50 = 0
        ),
        train AS (
          SELECT vec_id, label, emb, bucket FROM bucketed WHERE vec_id % 50 <> 0
          UNION ALL
          SELECT eval_id + 10000 AS vec_id, label, emb, bucket FROM eval_set
        ),
        cand AS (
          SELECT t.vec_id, e.eval_id,
                 round(list_cosine_similarity(t.emb, e.emb), 6) AS sim
          FROM train t
          JOIN eval_set e ON e.label = t.label AND e.bucket = t.bucket
          WHERE round(list_cosine_similarity(t.emb, e.emb), 6) >= 0.98
        ),
        best AS (
          SELECT vec_id, eval_id, sim FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, eval_id ASC) AS rn
            FROM cand
          ) WHERE rn = 1
        )
        SELECT t.vec_id, t.label, b.eval_id, b.sim,
               CASE WHEN b.eval_id IS NOT NULL THEN 'removed'
                    ELSE 'kept' END AS status
        FROM train t LEFT JOIN best b ON b.vec_id = t.vec_id
        ORDER BY t.vec_id
    """,
)
def semantic_decontamination(
    spark: SparkSession, sf_dir: str, n_planes: int | None = None
) -> DataFrame:
    from project_orbit_spark.similarity.cosine import as_double, cosine
    from project_orbit_spark.similarity.lsh import index_planes

    e = load(spark, sf_dir, "embeddings", fan_out=True).select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    # block width self-scales with the training-corpus size (train =
    # corpus - eval + injected clones = exactly the embeddings count,
    # which is also what the vector index is sized from) — so reuse
    # the per-(session, sf_dir) cached index_planes instead of
    # re-counting per invocation (ADVICE r9)
    if n_planes is None:
        n_planes = index_planes(spark, sf_dir)
    bucketed = e.select(
        "vec_id", "label", "emb", _lsh_bucket(F.col("emb"), n_planes).alias("bucket")
    )
    eval_set = bucketed.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("eval_id"),
        "label",
        "bucket",
        F.col("emb").alias("ee"),
    )
    train = bucketed.filter(F.col("vec_id") % 50 != 0).unionByName(
        eval_set.select(
            (F.col("eval_id") + 10000).alias("vec_id"),
            "label",
            F.col("ee").alias("emb"),
            "bucket",
        )
    )
    sim = F.round(cosine(F.col("emb"), F.col("ee")), 6)
    cand = (
        train.join(F.broadcast(eval_set), ["label", "bucket"])
        .select("vec_id", "eval_id", sim.alias("sim"))
        .filter(F.col("sim") >= 0.98)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("eval_id"))
    best = cand.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # best is bounded by the CONTAMINATED-row count (the audit report),
    # small in any healthy corpus — broadcast it so the status join
    # stays map-only over train; if contamination were ever corpus-
    # sized, dropping the hint degrades to one shuffle join, not wrong
    # results
    return (
        train.select("vec_id", "label")
        .join(F.broadcast(best.select("vec_id", "eval_id", "sim")), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "eval_id",
            "sim",
            F.when(F.col("eval_id").isNotNull(), "removed")
            .otherwise("kept")
            .alias("status"),
        )
        .orderBy("vec_id")
    )


def weighted_accept(id_col: Column, w_col: Column, max_w_col: Column) -> Column:
    """The exact-integer Poisson acceptance predicate: keep the row
    iff u32(md5(id)) · max_w < 2³² · w, i.e. accept with probability
    w / max_w using the id's hash as the uniform draw. All BIGINT —
    exact on both engines for w < 2³¹ (see weighted_poisson_sample's
    documented precondition); property-tested against Python's exact
    rational arithmetic in tests/test_properties.py."""
    u32 = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return u32 * max_w_col < F.lit(4294967296).cast("long") * w_col


@register(
    "weighted_poisson_sample",
    # Was driver=False for round 10 only (case 2); flipped per the
    # q9_nation_profit note (operators/relational.py).
    driver=True,
    tags=("corpus", "sampling", "weighted"),
    doc="Deterministic WEIGHTED corpus sampling (Poisson sampling, "
    "inclusion probability ∝ document weight — here n_chars, the "
    "stand-in for token count): accept doc i iff "
    "u32(md5(doc_id)) · max_w < 2³² · wᵢ. The acceptance test is "
    "EXACT 64-bit integer arithmetic — no pow/ln/float ratio, so "
    "Spark and DuckDB agree bit-for-bit (the A-Res u^(1/w) form was "
    "rejected precisely because libm pow may differ in the last ulp "
    "across engines). Map-only over the corpus with a 1-row "
    "broadcast max-weight row (the 100 TB shape: zero shuffles of "
    "the corpus; expected sample mass Σw/max_w is a pure function "
    "of the data, stable under re-runs and backfills, never RNG). "
    "PRECONDITION (ADVICE r10): weights must satisfy w < 2³¹ — the "
    "acceptance product u32·max_w is < 2³²·2³¹ = 2⁶³ and exact in "
    "BIGINT on both sides; past that, Spark's long silently wraps "
    "while DuckDB raises, an asymmetric divergence. n_chars-scale "
    "weights (≤577 shipped; document lengths in general) sit far "
    "inside the bound, pinned at 3 SFs by "
    "tests/test_rounding_boundaries.py.",
    oracle="""
        WITH mw AS (SELECT max(n_chars) AS max_w FROM documents)
        SELECT d.doc_id, d.n_chars AS weight,
               round(CAST(d.n_chars AS DOUBLE) / CAST(mw.max_w AS DOUBLE), 6)
                 AS p_include
        FROM documents d, mw
        WHERE CAST(CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) AS BIGINT) * mw.max_w
              < 4294967296 * d.n_chars
        ORDER BY d.doc_id
    """,
)
def weighted_poisson_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mw = d.agg(F.max("n_chars").alias("max_w"))
    return (
        d.crossJoin(F.broadcast(mw))
        .filter(weighted_accept(F.col("doc_id"), F.col("n_chars"), F.col("max_w")))
        .select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            F.round(
                F.col("n_chars").cast("double") / F.col("max_w").cast("double"), 6
            ).alias("p_include"),
        )
        .orderBy("doc_id")
    )


_SEG_W = 8  # tokens per non-overlapping segment (paragraph proxy)
_BP_DF = 3  # document frequency at which a segment counts as boilerplate


@register(
    "boilerplate_segment_scrub",
    # Was driver=False for round 11 only (case 2, registry.py:39);
    # flipped per the register()-site note (VERDICT r11 ask #1).
    driver=True,
    bench=True,
    tags=("corpus", "curation", "dedup", "text"),
    doc="C4/CCNet-style boilerplate scrub, the APPLY stage downstream "
    "of repeated_span_mining's MINE stage: chop each document into "
    "non-overlapping 8-token segments (the corpus has no newlines, "
    "so fixed-width segments stand in for C4's line unit), count "
    "each segment's document frequency corpus-wide, and REWRITE "
    "every document with segments seen in >= 3 distinct documents "
    "excised (nav menus / footers / license headers at crawl "
    "scale). Fixed-width segmentation is ALIGNMENT-SENSITIVE by "
    "construction — a repeated passage is only caught where it sits "
    "on the same segment grid in each doc (tests/test_properties.py "
    "pins both directions); repeated_span_mining is the rolling, "
    "alignment-free miner for the general case. One posexplode, one "
    "60-bit-md5 segment-hash aggregate "
    "(8-byte keys shuffle, not strings), then the boilerplate set — "
    "small by construction, it's the REPEATED tail — joins back "
    "through the size gate and each doc reassembles in segment "
    "order. Output pins both the counts and the rewritten text, so "
    "any segmentation/ordering drift flips the hash.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        seg AS (
          -- df is counted on the SAME 60-bit md5 prefix the engine
          -- shuffles (ADVICE r11 #1): both engines share the hashed
          -- representation by construction, as _MINHASH_PAIRS_CTE
          -- already does, so a prefix collision merges the same two
          -- segments on both sides instead of only on the Spark side.
          SELECT doc_id, (i - 1) // {_SEG_W} AS seg_idx,
                 array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ') AS seg,
                 CAST(CAST(('0x' || substring(md5(array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ')), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        bp AS (
          SELECT seg_hash FROM seg
          GROUP BY seg_hash HAVING count(DISTINCT doc_id) >= {_BP_DF}
        ),
        flagged AS (
          SELECT s.doc_id, s.seg_idx, s.seg,
                 b.seg_hash IS NOT NULL AS is_bp
          FROM seg s LEFT JOIN bp b USING (seg_hash)
        ),
        rebuilt AS (
          SELECT doc_id,
                 count(*) AS n_segments,
                 CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
                 coalesce(string_agg(
                   CASE WHEN NOT is_bp THEN seg END, ' '
                   ORDER BY seg_idx), '') AS clean_text
          FROM flagged GROUP BY doc_id
        )
        SELECT doc_id, n_segments, n_dropped, clean_text,
               length(clean_text) AS clean_n_chars
        FROM rebuilt ORDER BY doc_id
    """,
)
def boilerplate_segment_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return scrub_boilerplate(d)


def doc_segment_arrays(d: DataFrame, seg_w: int = _SEG_W) -> DataFrame:
    """(doc_id, text) → one row per document (doc_id, segs), ``segs``
    an array<struct<seg_idx, seg, seg_hash>> of its non-overlapping
    ``seg_w``-token segments in order, each with its 60-bit md5-prefix
    hash (8-byte shuffle keys). A map-only projection; the md5 runs
    once per segment."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 1)
    segs = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("toks") / F.lit(seg_w)).cast("int") - 1),
        lambda i: F.concat_ws(" ", F.slice("toks", i * seg_w + 1, seg_w)),
    )
    return t.select(
        "doc_id",
        F.transform(
            segs,
            lambda seg, i: F.struct(
                i.alias("seg_idx"),
                seg.alias("seg"),
                F.conv(F.substring(F.md5(seg), 1, 15), 16, 10)
                .cast("long")
                .alias("seg_hash"),
            ),
        ).alias("segs"),
    )


def doc_segments(d: DataFrame, seg_w: int = _SEG_W) -> DataFrame:
    """(doc_id, text) → the fixed-width segment stream (doc_id,
    seg_idx, seg, seg_hash): ``doc_segment_arrays`` with one row per
    segment."""
    return doc_segment_arrays(d, seg_w).select("doc_id", F.inline("segs"))


def boilerplate_set(segs: DataFrame, bp_df: int = _BP_DF) -> DataFrame:
    """(seg_hash, is_bp) for every segment hash that occurs in >=
    ``bp_df`` distinct documents of a ``doc_segment_arrays`` frame
    (doc_id a key). Each document contributes its DISTINCT hashes
    once, so the document frequency is a plain count: one exchange
    with map-side partials, where a hot boilerplate segment collapses
    to one partial row per map task."""
    return (
        segs.select(F.explode(F.array_distinct("segs.seg_hash")).alias("seg_hash"))
        .groupBy("seg_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= bp_df)
        .select("seg_hash", F.lit(True).alias("is_bp"))
    )


def apply_boilerplate_scrub(
    segs: DataFrame, bp: DataFrame, ordered: bool = True
) -> DataFrame:
    """Rewrite docs from their ``doc_segment_arrays`` rows with every
    segment in ``bp`` excised — the APPLY stage shared by the
    full-corpus scrub and the incremental face (which passes the
    PERSISTED bp set). The boilerplate set is the REPEATED tail,
    bounded by corpus redundancy rather than corpus size, so the flag
    join is left to AQE, which broadcasts it from its runtime size (a
    ``maybe_broadcast`` probe would have to run the df aggregate at
    plan build); a set past the threshold degrades to a shuffle join.

    ``ordered=False``: the global doc_id sort exists for the
    REGISTERED query faces' output contract only — pipeline consumers
    that immediately checkpoint / re-aggregate the scrubbed rows skip
    it, saving a corpus-wide range exchange + sort whose ordering no
    downstream operator reads."""
    flagged = segs.select("doc_id", F.inline("segs")).join(bp, "seg_hash", "left")
    kept = F.when(~F.coalesce(F.col("is_bp"), F.lit(False)), F.struct("seg_idx", "seg"))
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)), lambda x: x.getField("seg")
        ),
        " ",
    )
    out = (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.coalesce(F.col("is_bp"), F.lit(False)).cast("long")).alias(
                "n_dropped"
            ),
            clean.alias("clean_text"),
        )
        .withColumn("clean_n_chars", F.length("clean_text").cast("long"))
    )
    return out.orderBy("doc_id") if ordered else out


def scrub_boilerplate(
    d: DataFrame,
    seg_w: int = _SEG_W,
    bp_df: int = _BP_DF,
    ordered: bool = True,
) -> DataFrame:
    """Library face of ``boilerplate_segment_scrub``: rewrite each
    (doc_id, text) row with every ``seg_w``-token segment that occurs
    in >= ``bp_df`` distinct documents excised.

    The per-document segment arrays feed both the df count and the
    rebuild, so they are a barrier: the tokenize + md5 derivation runs
    once. The plan of the checkpointed frame is pinned by
    test_boilerplate_scrub_shuffles_hashes_not_strings
    (``doc_segment_arrays`` must stay a map-only derivation)."""
    segs = stage(doc_segment_arrays(d, seg_w), "scrub.segments")
    return apply_boilerplate_scrub(segs, boilerplate_set(segs, bp_df), ordered=ordered)


@register(
    "segment_dedup_first_wins",
    bench=True,  # bench rotation r14 (VERDICT r13 ask #6): heavy r13 op into headline set
    tags=("corpus", "dedup", "text"),
    doc="RefinedWeb-style exact line dedup (public: Penedo et al. "
    "2023 §3.3 — repeated lines are removed corpus-wide, FIRST "
    "occurrence retained), on the same fixed-width 8-token segment "
    "grid the boilerplate scrub uses (the corpus has no newlines). "
    "Semantics are ORDER-DEPENDENT and thereby distinct from "
    "boilerplate_segment_scrub: the scrub excises EVERY occurrence "
    "of a DF>=3 segment, while first-wins keeps the earliest "
    "(doc_id, seg_idx) occurrence of each segment and drops only "
    "the later repeats — within-doc repeats included. Plan: the "
    "first-occurrence table is a plain min(struct(doc_id, seg_idx)) "
    "aggregate on the 60-bit seg_hash — map-side combinable, so a "
    "segment repeated 1e9 times at 100 TB collapses to one row per "
    "map task BEFORE the shuffle (a row_number window over seg_hash "
    "would sort the hot key's every row in one reducer instead); "
    "the flag join back is hash-keyed and never broadcast (the "
    "first-occurrence table scales with corpus distinct-segment "
    "count). Output pins counts and the rewritten text.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        seg AS (
          SELECT doc_id, (i - 1) // {_SEG_W} AS seg_idx,
                 array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ') AS seg,
                 CAST(CAST(('0x' || substring(md5(array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ')), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        flagged AS (
          SELECT doc_id, seg_idx, seg,
                 row_number() OVER (
                   PARTITION BY seg_hash
                   ORDER BY doc_id, seg_idx) > 1 AS is_dup
          FROM seg
        ),
        rebuilt AS (
          SELECT doc_id,
                 count(*) AS n_segments,
                 CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
                 coalesce(string_agg(
                   CASE WHEN NOT is_dup THEN seg END, ' '
                   ORDER BY seg_idx), '') AS clean_text
          FROM flagged GROUP BY doc_id
        )
        SELECT doc_id, n_segments, n_dropped, clean_text,
               length(clean_text) AS clean_n_chars
        FROM rebuilt ORDER BY doc_id
    """,
)
def segment_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_segments_first_wins(d)


def dedup_segments_first_wins(d: DataFrame, seg_w: int = _SEG_W) -> DataFrame:
    """Library face of ``segment_dedup_first_wins``: rewrite each
    (doc_id, text) row keeping only the corpus-wide FIRST occurrence
    of every ``seg_w``-token segment.

    Same dual-consumer shape as scrub_boilerplate: the segment stream
    feeds the first-occurrence aggregate AND the flag join's probe
    side, and the partial agg below the build-side exchange keeps the
    two exchanges un-reusable, so without a barrier doc_segments is
    derived twice. One barrier, one derivation (A/B at sf0.1: 1.32 →
    1.01 s min-of-medians). The pre-barrier map-only pin in
    test_plans covers this site too."""
    segs = stage(doc_segments(d, seg_w), "segment_dedup.segments")
    # min(struct) aggregate, NOT row_number over seg_hash: partial
    # aggregation collapses hot segments map-side (see register doc).
    firsts = segs.groupBy("seg_hash").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_occ")
    )
    flagged = segs.join(firsts, "seg_hash").withColumn(
        "is_dup",
        ~(
            (F.col("doc_id") == F.col("first_occ.doc_id"))
            & (F.col("seg_idx") == F.col("first_occ.seg_idx"))
        ),
    )
    kept = F.when(
        ~F.col("is_dup"),
        F.struct(F.col("seg_idx").alias("idx"), F.col("seg").alias("seg")),
    )
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)), lambda x: x.getField("seg")
        ),
        " ",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
            clean.alias("clean_text"),
        )
        .withColumn("clean_n_chars", F.length("clean_text").cast("long"))
        .orderBy("doc_id")
    )


def warm_segment_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The existing corpus's seen-segment set (distinct seg_hash), a
    session artifact (``session.memo``) — at 100 TB a stored artifact
    the offline first-wins dedup job maintains.
    Lifecycle: exercised DIRECTLY by refresh_segment_index."""
    return memo(
        spark,
        ("segment_index", sf_dir),
        lambda: doc_segments(load(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("seg_hash")
        .distinct()
        .select("seg_hash", F.lit(True).alias("seen")),
    )


@register(
    "incremental_segment_dedup",
    tags=("corpus", "dedup", "incremental"),
    prepare=warm_segment_index,
    doc="Incremental face of segment_dedup_first_wins and the SEVENTH "
    "instance of the engine's incremental-index contract (minhash "
    "band index, embedding vector index, span index, k-means model, "
    "vocabulary, curation artifacts — now the seen-segment set): a "
    "nightly batch (every-7th doc re-crawled with a novel 8-token "
    "tail appended, the usual synthesized-batch convention) is "
    "line-deduped against the PERSISTED distinct-seg_hash index of "
    "the existing corpus — re-crawled body segments drop as already-"
    "seen, the novel tail survives, and within-batch repeats resolve "
    "first-wins among themselves (min(struct) aggregate over BATCH "
    "segments only). O(new) per run: the fitted corpus is never "
    "re-segmented; the index side of the seg_hash join is the "
    "persisted artifact (never broadcast — it scales with corpus "
    "distinct-segment count; bucket it by seg_hash on disk at 100 TB "
    "and the nightly join co-locates without reshuffling the index).",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        seen AS (
          SELECT DISTINCT
                 CAST(CAST(('0x' || substring(md5(array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ')), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        new_tok AS (
          SELECT doc_id + 200000 AS new_id,
                 string_split_regex(trim(lower(
                   text || ' nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8')),
                   '\\s+') AS toks
          FROM documents WHERE doc_id % 7 = 0
        ),
        nseg AS (
          SELECT new_id, (i - 1) // {_SEG_W} AS seg_idx,
                 array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ') AS seg,
                 CAST(CAST(('0x' || substring(md5(array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ')), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM new_tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        flagged AS (
          SELECT n.new_id, n.seg_idx, n.seg,
                 (s.seg_hash IS NOT NULL) OR (row_number() OVER (
                   PARTITION BY n.seg_hash
                   ORDER BY n.new_id, n.seg_idx) > 1) AS is_dup
          FROM nseg n LEFT JOIN seen s USING (seg_hash)
        ),
        rebuilt AS (
          SELECT new_id,
                 count(*) AS n_segments,
                 CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
                 coalesce(string_agg(
                   CASE WHEN NOT is_dup THEN seg END, ' '
                   ORDER BY seg_idx), '') AS clean_text
          FROM flagged GROUP BY new_id
        )
        SELECT new_id, n_segments, n_dropped, clean_text,
               length(clean_text) AS clean_n_chars
        FROM rebuilt ORDER BY new_id
    """,
)
def incremental_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return segment_dedup_batch(
        _segment_dedup_arm(d), warm_segment_index(spark, sf_dir)
    )


def _segment_dedup_arm(d: DataFrame) -> DataFrame:
    """The synthesized nightly batch for the segment-dedup face:
    every-7th doc re-crawled with a novel 8-token tail appended."""
    return d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8")).alias(
            "text"
        ),
    )


def segment_dedup_batch(batch: DataFrame, idx: DataFrame) -> DataFrame:
    """The O(new) first-wins dedup of one (doc_id, text) batch against
    the persisted seen-segment index — factored out so the streaming
    twin (streaming/curation.py::stream_segment_dedup) runs the
    IDENTICAL plan per micro-batch."""
    nseg = doc_segments(batch)
    # within-batch first occurrence — O(new) aggregate, map-side
    # combinable exactly like the offline face
    firsts = nseg.groupBy("seg_hash").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("first_occ")
    )
    flagged = (
        nseg.join(firsts, "seg_hash")
        .join(idx, "seg_hash", "left")
        .withColumn(
            "is_dup",
            F.coalesce(F.col("seen"), F.lit(False))
            | ~(
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("seg_idx") == F.col("first_occ.seg_idx"))
            ),
        )
    )
    kept = F.when(
        ~F.col("is_dup"),
        F.struct(F.col("seg_idx").alias("idx"), F.col("seg").alias("seg")),
    )
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)), lambda x: x.getField("seg")
        ),
        " ",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dropped"),
            clean.alias("clean_text"),
        )
        .withColumnRenamed("doc_id", "new_id")
        .withColumn("clean_n_chars", F.length("clean_text").cast("long"))
        .orderBy("new_id")
    )


def _seg_hash_sql(arr: str = "toks", i: str = "i") -> str:
    """The oracle's 60-bit segment-hash expression (shared between
    the segment-dedup oracles and refresh_segment_index so the hash
    definition cannot drift)."""
    return (
        "CAST(CAST(('0x' || substring(md5(array_to_string("
        f"list_slice({arr}, {i}, {i} + {_SEG_W} - 1), ' ')), 1, 15)) "
        "AS UBIGINT) AS BIGINT)"
    )


def _refresh_probe_stage_sql(seen_cte: str) -> str:
    """flagged+rebuilt CTE pair for one seen-set variant — generated
    so the 'merged'/'compacted' and 'expired' stages share one
    definition."""
    return f"""flagged_{seen_cte} AS (
          SELECT n.new_id, n.seg_idx, n.seg,
                 (s.seg_hash IS NOT NULL) OR (row_number() OVER (
                   PARTITION BY n.seg_hash
                   ORDER BY n.new_id, n.seg_idx) > 1) AS is_dup
          FROM nseg n LEFT JOIN {seen_cte} s USING (seg_hash)
        ),
        rebuilt_{seen_cte} AS (
          SELECT new_id,
                 count(*) AS n_segments,
                 CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
                 coalesce(string_agg(
                   CASE WHEN NOT is_dup THEN seg END, ' '
                   ORDER BY seg_idx), '') AS clean_text
          FROM flagged_{seen_cte} GROUP BY new_id
        )"""


@register(
    "refresh_segment_index",
    # r16: flipped to True per the r15 case-2 deferral note (the r15
    # window was exactly full; VERDICT r15 ask #2). Never-verified →
    # the LRV sort fronts it automatically this round.
    driver=True,
    tags=("corpus", "dedup", "incremental", "maintenance"),
    doc="Artifact maintenance for the persisted incremental indexes "
    "(VERDICT r14 ask #5), exercised on the seen-segment index: the "
    "on-disk index (seg_hash, partitioned by ingest dt) receives a "
    "nightly batch MERGE (append as a new dt partition), small-file "
    "COMPACTION (connectors.compact_parquet — rewrite, no semantic "
    "change), and RETENTION (connectors.expire_partitions keep_latest"
    "=3 — the oldest ingest day forgotten, bounding index size). A "
    "probe batch (every-5th doc re-crawled with a novel 'pv*' tail) "
    "is line-deduped against the index re-READ FROM DISK at three "
    "stages; the oracle recomputes every verdict from the raw "
    "documents, so 'merged' and 'compacted' hashing to the SAME "
    "expected rows IS the proof that compaction changed layout and "
    "nothing else, while 'expired' must match the retention-filtered "
    "seen-set exactly (segments whose only ingest day was dropped "
    "become unseen again — the documented cost of bounding a 100 TB "
    "index). Cost shape: merge is O(batch) append; compaction "
    "rewrites O(index) but only when run; expiry is O(dropped "
    "directories); each probe is the O(new) segment_dedup_batch "
    "plan. Each stage's verdict frame is a stage barrier, taken BEFORE "
    "the next maintenance op rewrites the files under its lazy plan.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        corp_seg AS (
          SELECT doc_id, {_seg_hash_sql()} AS seg_hash
          FROM tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        b1_tok AS (
          SELECT string_split_regex(trim(lower(
                   text || ' nv1 nv2 nv3 nv4 nv5 nv6 nv7 nv8')),
                 '\\s+') AS toks
          FROM documents WHERE doc_id % 7 = 0
        ),
        b1_seg AS (
          SELECT {_seg_hash_sql()} AS seg_hash
          FROM b1_tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        seen_full AS (
          SELECT DISTINCT seg_hash FROM (
            SELECT seg_hash FROM corp_seg
            UNION ALL SELECT seg_hash FROM b1_seg
          )
        ),
        seen_kept AS (
          SELECT DISTINCT seg_hash FROM (
            SELECT seg_hash FROM corp_seg WHERE doc_id % 3 != 0
            UNION ALL SELECT seg_hash FROM b1_seg
          )
        ),
        p_tok AS (
          SELECT doc_id + 300000 AS new_id,
                 string_split_regex(trim(lower(
                   text || ' pv1 pv2 pv3 pv4 pv5 pv6 pv7 pv8')),
                 '\\s+') AS toks
          FROM documents WHERE doc_id % 5 = 0
        ),
        nseg AS (
          SELECT new_id, (i - 1) // {_SEG_W} AS seg_idx,
                 array_to_string(
                   list_slice(toks, i, i + {_SEG_W} - 1), ' ') AS seg,
                 {_seg_hash_sql()} AS seg_hash
          FROM p_tok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        {_refresh_probe_stage_sql("seen_full")},
        {_refresh_probe_stage_sql("seen_kept")}
        SELECT stage, new_id, n_segments, n_dropped, clean_text,
               length(clean_text) AS clean_n_chars
        FROM (
          SELECT 'merged' AS stage, * FROM rebuilt_seen_full
          UNION ALL SELECT 'compacted' AS stage, * FROM rebuilt_seen_full
          UNION ALL SELECT 'expired' AS stage, * FROM rebuilt_seen_kept
        )
        ORDER BY stage, new_id
    """,
)
def refresh_segment_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.sources.connectors import refresh_index

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # seed: the existing corpus's segments, partitioned by synthetic
    # ingest day (doc_id % 3 -> dt 2026-01-01..03), deduped per
    # (seg_hash, dt) — the layout an offline first-wins dedup job
    # maintains day by day
    seed = (
        doc_segments(d)
        .select(
            "seg_hash",
            F.concat(
                F.lit("2026-01-0"), ((F.col("doc_id") % 3) + 1).cast("string")
            ).alias("dt"),
        )
        .dropDuplicates(["seg_hash", "dt"])
    )
    # MERGE: the nightly batch's distinct segments
    batch = doc_segments(_segment_dedup_arm(d)).select("seg_hash").distinct()
    probe = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat("text", F.lit(" pv1 pv2 pv3 pv4 pv5 pv6 pv7 pv8")).alias(
            "text"
        ),
    )

    def verdict(index: DataFrame) -> DataFrame:
        seen = index.select("seg_hash").distinct().select("seg_hash", F.lit(True).alias("seen"))
        return segment_dedup_batch(probe, seen)

    return (
        refresh_index(spark, "segment_index", seed, batch, verdict)
        .select(
            "stage",
            "new_id",
            "n_segments",
            "n_dropped",
            "clean_text",
            "clean_n_chars",
        )
        .orderBy("stage", "new_id")
    )


PACK_BUDGET = 512  # tokens per pack (shared with pack_sequences_budget)


@register(
    "pack_sequences_next_fit",
    # Was driver=False for round 11 only (case 2, registry.py:39);
    # flipped per the register()-site note (VERDICT r11 ask #1).
    driver=True,
    bench=True,
    tags=("corpus", "packing", "stateful"),
    doc="Boundary-respecting sequence packing (greedy NEXT-FIT): docs "
    "are assigned whole to packs in doc_id order per (lang, shard); "
    "a pack closes the moment the next doc would overflow the "
    "512-token budget, and an oversized doc occupies its own pack — "
    "the packing layout trainers choose when truncating documents at "
    "pack boundaries is unacceptable (the alternative to "
    "pack_sequences_budget's concat-and-chop). The per-shard scan is "
    "a NON-ASSOCIATIVE recurrence (the running fill RESETS on "
    "overflow), so no window/prefix-sum expresses it — this is the "
    "engine's honest applyInPandas case per the brief's custom-"
    "operator ladder: composition first, Arrow-batched pandas only "
    "when semantics demand it. Parallelism = (lang x shard) groups "
    "exactly like the chop packer (one shuffle, sequential only "
    "WITHIN a hash shard, bounded by shard size at any corpus "
    "scale); the oracle walks the same recurrence as a recursive "
    "CTE, depth = max shard length.",
    oracle=f"""
        WITH RECURSIVE toks AS (
          SELECT doc_id, lang, doc_id % {PACK_SHARDS} AS shard,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
        ),
        seq AS (
          SELECT *, row_number() OVER (
            PARTITION BY lang, shard ORDER BY doc_id) AS rn
          FROM toks
        ),
        walk(lang, shard, rn, doc_id, n_tokens, pack_id, fill) AS (
          SELECT lang, shard, rn, doc_id, n_tokens,
                 CAST(0 AS BIGINT), n_tokens
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.lang, s.shard, s.rn, s.doc_id, s.n_tokens,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN w.pack_id + 1 ELSE w.pack_id END,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN s.n_tokens ELSE w.fill + s.n_tokens END
          FROM walk w
          JOIN seq s ON s.lang = w.lang AND s.shard = w.shard
                    AND s.rn = w.rn + 1
        )
        SELECT doc_id, lang, shard, n_tokens, pack_id,
               fill AS pack_fill
        FROM walk ORDER BY doc_id
    """,
)
def pack_sequences_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return pack_next_fit(toks)


def pack_next_fit(
    toks: DataFrame, group_cols: tuple[str, ...] = ("lang", "shard")
) -> DataFrame:
    """Library face of ``pack_sequences_next_fit``: input carries
    (doc_id, n_tokens) plus the ``group_cols`` shard keys (any extra
    columns pass through to the output untouched — the composed
    curation pipeline carries band/canonical_id/split this way).
    Output schema = input schema + (pack_id long, pack_fill long).
    DETERMINISM CONTRACT (VERDICT r11 ask #4): output is a pure
    function of the input SET — the per-group walk re-sorts by
    doc_id inside the pandas batch, so the physical partitioning /
    row order the groupBy receives (repartition, coalesce, reversed
    input) cannot change a single (pack_id, pack_fill); pinned by
    tests/test_properties.py::test_next_fit_packing_is_repartition_invariant."""

    def pack_shard(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack = fill = 0
        packs, fills = [], []
        first = True
        for n in pdf["n_tokens"]:
            if first:
                fill = int(n)
                first = False
            elif fill + int(n) > PACK_BUDGET:
                pack += 1
                fill = int(n)
            else:
                fill += int(n)
            packs.append(pack)
            fills.append(fill)
        pdf["pack_id"] = packs
        pdf["pack_fill"] = fills
        return pdf

    out_schema = StructType(
        list(toks.schema.fields)
        + [
            StructField("pack_id", LongType()),
            StructField("pack_fill", LongType()),
        ]
    )
    return (
        toks.groupBy(*group_cols)
        .applyInPandas(pack_shard, out_schema)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# The composed curation pipeline (VERDICT r11 ask #3): the four NEW
# round-11 stages chained as ONE plan, in the order a production
# training-corpus build runs them (C4/CCNet ordering per PAPERS.md):
# boilerplate scrub FIRST (so neither the LM scorer nor the near-dup
# pair stage ever sees nav/footer segments), perplexity band gate
# SECOND (tail tercile dropped before any pair generation), leakage-
# safe split THIRD (near-dup canonical hashing over the gated corpus),
# next-fit packing LAST (only gated, split-assigned docs are packed).
# ---------------------------------------------------------------------------

from project_orbit_spark.operators.dedup import (  # noqa: E402
    _LEAK_BUCKET_SQL,
    _MINHASH_PAIRS_BODY,
)

_SCRUB_SEG_SQL = (
    f"array_to_string(list_slice(toks, i, i + {_SEG_W} - 1), ' ')"
)




# The base-corpus curation CTE chain (scrub -> LM scores -> tercile
# cutoffs -> band table) shared by curation_training_gold and its
# incremental face — one definition so the two oracles cannot drift.
# MATERIALIZED hints are load-bearing for oracle RUNTIME (not
# semantics): DuckDB inlines plain CTEs, so downstream recursions
# (reach, walk) would otherwise re-evaluate this whole chain ON
# EVERY ITERATION (measured: 240 s -> 0.5 s at sf0.01).
_CURATION_BASE_CTES = f"""stok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents
        ),
        sseg AS (
          SELECT doc_id, (i - 1) // {_SEG_W} AS seg_idx,
                 {_SCRUB_SEG_SQL} AS seg,
                 CAST(CAST(('0x' || substring(md5({_SCRUB_SEG_SQL}), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM stok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        sbp AS (
          SELECT seg_hash FROM sseg
          GROUP BY seg_hash HAVING count(DISTINCT doc_id) >= {_BP_DF}
        ),
        sflag AS (
          SELECT s.doc_id, s.seg_idx, s.seg,
                 b.seg_hash IS NOT NULL AS is_bp
          FROM sseg s LEFT JOIN sbp b USING (seg_hash)
        ),
        scrubbed AS MATERIALIZED (
          SELECT doc_id,
                 coalesce(string_agg(
                   CASE WHEN NOT is_bp THEN seg END, ' '
                   ORDER BY seg_idx), '') AS text
          FROM sflag GROUP BY doc_id
        ),
        base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts
          FROM scrubbed
        ),
        big AS (
          SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
          FROM base, UNNEST(range(1, len(ts))) AS t(i)
        ),
        tokt AS (
          SELECT doc_id, ts[i] AS token
          FROM base, UNNEST(range(1, len(ts) + 1)) AS t(i)
        ),
        freq AS (SELECT token, count(*) AS cnt FROM tokt GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        c2t AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        c1t AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        scores AS MATERIALIZED (
          SELECT b.doc_id,
                 round(avg(ln(
                   0.7 * (c2t.c2::DOUBLE / c1t.c1) +
                   0.3 * (f.cnt::DOUBLE / tot.total)
                 )), 4) AS avg_logprob
          FROM big b
          JOIN c2t USING (w1, w2)
          JOIN c1t USING (w1)
          JOIN freq f ON f.token = b.w2, tot
          GROUP BY b.doc_id
        ),
        dist AS (
          SELECT avg_logprob, count(*) AS cnt FROM scores GROUP BY avg_logprob
        ),
        cum AS (
          SELECT avg_logprob,
                 sum(cnt) OVER (ORDER BY avg_logprob DESC) AS cum
          FROM dist
        ),
        nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dist),
        cuts AS (
          SELECT max(CASE WHEN cum >= (n + 2) // 3
                     THEN avg_logprob END) AS cut1,
                 max(CASE WHEN cum >= (2 * n + 2) // 3
                     THEN avg_logprob END) AS cut2
          FROM cum, nn
        ),
        gated AS (
          SELECT s.doc_id,
                 CASE WHEN s.avg_logprob >= c.cut1 THEN 'head'
                      WHEN s.avg_logprob >= c.cut2 THEN 'middle'
                      ELSE 'tail' END AS band
          FROM scores s, cuts c
        )"""


@register(
    "curation_training_gold",
    # Was driver=False for round 12 only (case 2, registry.py:39);
    # flipped per the documented schedule — never-verified, so the LRV
    # sort fronts it in round 13's first-50 (also pinned in
    # _DRIVER_PRIORITY for explicitness). The round-13 label-gate
    # change (maybe_broadcast on the canon join) re-verified locally:
    # tools/check.py sf0.01 + driver_sim + plan tests.
    driver=True,
    bench=True,
    tags=("corpus", "curation", "pipeline", "dedup", "quality", "packing"),
    doc="End-to-end training-corpus build composing the four round-11 "
    "stages as ONE plan: (1) boilerplate_segment_scrub rewrites every "
    "doc with corpus-repeated 8-token segments excised; (2) "
    "ccnet_perplexity_bands scores the SCRUBBED text with the "
    "interpolated bigram LM and drops the tail tercile (docs too "
    "short to score — including 100%-boilerplate rewrites — drop "
    "here too, having no bigrams, identically in both engines); (3) "
    "leakage_safe_split derives MinHash-LSH near-dup canonicals over "
    "the gated corpus and buckets on md5('leak|'||canonical_id) so "
    "no near-dup cluster straddles train/val/test; (4) "
    "pack_sequences_next_fit packs whole docs per (split, shard) in "
    "doc_id order. Stage ORDER is the contract (scrub before pair "
    "generation, gate before packing) — pinned by tests/test_plans.py"
    "::test_curation_training_gold_stage_order. Scale shape is the "
    "union of its stages': 8-byte segment-hash shuffle, tercile "
    "cutoffs from the bounded distinct-score table, one band shuffle "
    "+ O(diameter) label rounds, then (split x shard)-parallel "
    "packing.",
    oracle=f"""
        WITH RECURSIVE {_CURATION_BASE_CTES},
        corpus AS MATERIALIZED (
          SELECT g.doc_id, sc.text
          FROM gated g JOIN scrubbed sc USING (doc_id)
          WHERE g.band <> 'tail'
        ),
        {_MINHASH_PAIRS_BODY},
        edges AS (
          SELECT left_id AS src, right_id AS dst FROM pairs
          UNION
          SELECT right_id AS src, left_id AS dst FROM pairs
        ),
        reach(node, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        ),
        labels AS (
          SELECT node AS doc_id, min(label) AS cluster_id
          FROM reach GROUP BY node
        ),
        canon AS (
          SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS canonical_id
          FROM corpus c LEFT JOIN labels l USING (doc_id)
        ),
        assign AS MATERIALIZED (
          SELECT cn.doc_id, g.band, cn.canonical_id,
                 CASE WHEN cn.bucket < 80 THEN 'train'
                      WHEN cn.bucket < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 cn.doc_id % {PACK_SHARDS} AS shard,
                 CAST(len(string_split_regex(trim(c.text), '\\s+'))
                   AS BIGINT) AS n_tokens
          FROM (SELECT doc_id, canonical_id,
                       {_LEAK_BUCKET_SQL} AS bucket
                FROM canon) cn
          JOIN corpus c USING (doc_id)
          JOIN gated g USING (doc_id)
        ),
        seq AS MATERIALIZED (
          SELECT *, row_number() OVER (
            PARTITION BY split, shard ORDER BY doc_id) AS rn
          FROM assign
        ),
        walk(doc_id, band, canonical_id, split, shard, n_tokens,
             rn, pack_id, fill) AS (
          SELECT doc_id, band, canonical_id, split, shard, n_tokens,
                 rn, CAST(0 AS BIGINT), n_tokens
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.doc_id, s.band, s.canonical_id, s.split, s.shard,
                 s.n_tokens, s.rn,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN w.pack_id + 1 ELSE w.pack_id END,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN s.n_tokens ELSE w.fill + s.n_tokens END
          FROM walk w
          JOIN seq s ON s.split = w.split AND s.shard = w.shard
                    AND s.rn = w.rn + 1
        )
        SELECT doc_id, band, canonical_id, split, shard, n_tokens,
               pack_id, fill AS pack_fill
        FROM walk ORDER BY doc_id
    """,
)
def curation_training_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return curation_pipeline(d)


def curation_pipeline(d: DataFrame) -> DataFrame:
    """Library face of ``curation_training_gold`` over any (doc_id,
    text) corpus. Stage-order semantics pinned by
    tests/test_properties.py::test_curation_pipeline_stage_order_semantics:
    docs near-dup only through BOILERPLATE do not merge (scrub runs
    before pair generation) and tail-band docs never reach packing
    (gate runs before packing).

    Stage barriers — the materialization a production pipeline has
    anyway between steps (C4/CCNet write each stage out) — are the
    segment arrays, the scrubbed text and the scores; each feeds
    several consumers, and the totals the next stage needs are
    observed on the barrier's own job. ``warm_curation_artifacts``
    runs the same stage functions over the base corpus."""
    from project_orbit_spark.functions.textquality import lm_count_tables, tercile_cutoffs

    segs = stage(doc_segment_arrays(d), "curation.segments")
    scrubbed, total = scrub_stage(segs, boilerplate_set(segs))
    scored, n = score_stage(scrubbed, *lm_count_tables(scrubbed), total)
    gated = gate_stage(scored, *tercile_cutoffs(scored, n))
    return _pack_curated(_canonical_stage(gated))


def scrub_stage(segs: DataFrame, bp: DataFrame) -> tuple[DataFrame, float | None]:
    """Stage 1 (MUST precede scoring and pair generation): the
    scrubbed (doc_id, text) corpus as a counted barrier, and its token
    count — the bigram LM's ``total`` — read off the barrier job."""
    from project_orbit_spark.functions.textquality import token_total

    scrubbed = stage(
        apply_boilerplate_scrub(segs, bp, ordered=False).select(
            "doc_id", F.col("clean_text").alias("text")
        ),
        "curation.scrubbed",
        tokens=token_total(),
    )
    return scrubbed, observed(scrubbed)["tokens"]


def score_stage(
    scrubbed: DataFrame,
    c2: DataFrame,
    freq: DataFrame,
    total: float | None,
    pin_vocab: bool = True,
) -> tuple[DataFrame, int]:
    """Stage 2's barrier: (doc_id, avg_logprob, text) for every
    scoreable scrubbed doc, and its row count — the tercile cutoffs'
    ``n``. The text joins on the doc_id exchange the scorer's
    aggregate already has, so the gate after it is a map-only filter
    over this checkpoint. ``pin_vocab`` as in ``score_with_lm``."""
    from project_orbit_spark.functions.textquality import doc_bigrams, score_with_lm

    scores = score_with_lm(
        doc_bigrams(scrubbed), c2, freq, F.lit(total), pin_vocab=pin_vocab, ordered=False
    ).select("doc_id", "avg_logprob")
    scored = stage(scores.join(scrubbed, "doc_id"), "curation.scored")
    return scored, observed(scored)["rows"]


def gate_stage(scored: DataFrame, cut1: float | None, cut2: float | None) -> DataFrame:
    """The perplexity gate: the head and middle docs of a stage-2 frame
    (doc_id, text, band, n_tokens) — the tail tercile is dropped before
    any pair generation. Map-only; n_tokens is what packing reads."""
    from project_orbit_spark.functions.textquality import band_with_cutoffs

    return band_with_cutoffs(
        scored.filter(F.col("avg_logprob") >= F.lit(cut2).cast("double")), cut1, cut2
    ).select(
        "doc_id",
        "text",
        "band",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )


def _canonical_stage(gated: DataFrame) -> DataFrame:
    """Stage 3 over the gated corpus: ``gated`` plus ``canonical_id``,
    the min doc_id of its near-dup cluster (itself when it has none)."""
    from project_orbit_spark.operators.graph import connected_components

    pairs = minhash_pairs(gated.select("doc_id", "text"))
    cc = connected_components(pairs, "left_id", "right_id")
    return join_clusters(gated, cc).withColumn(
        "canonical_id", F.coalesce("cluster_id", F.col("doc_id")).cast("long")
    )


def _pack_curated(canon: DataFrame) -> DataFrame:
    """Stage 4: the leakage-safe split — a pure function of
    canonical_id, so a near-dup cluster never straddles
    train/val/test — then next-fit packing per (split, shard)."""
    split = split_of(hash_bucket(F.col("canonical_id"), "leak|"))
    toks = canon.select(
        "doc_id",
        "band",
        "canonical_id",
        split.alias("split"),
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "n_tokens",
    )
    return pack_next_fit(toks, group_cols=("split", "shard"))


# ---------------------------------------------------------------------------
# The SIXTH O(new) incremental face (band index, vector index, span
# index, k-means model, vocabulary — now the whole curation pipeline):
# a nightly crawl batch is curated against the PERSISTED artifacts the
# offline curation_training_gold build maintains, so the per-batch
# cost is O(new), never O(corpus).
# ---------------------------------------------------------------------------

def warm_curation_artifacts(spark: SparkSession, sf_dir: str) -> dict:
    """The offline curation build's artifacts, one session artifact
    (``session.memo``) derived by ``curation_pipeline``'s own stage
    functions over the BASE corpus:

    - ``bp``: the boilerplate segment-hash set (stage 1);
    - ``c2``/``freq``: the bigram-LM count tables fitted on the
      SCRUBBED base corpus, and ``total``, its token count (stage 2's
      model);
    - ``cut1``/``cut2``: the tercile score cutoffs (stage 2's bands);
    - ``banded``: the MinHash band index of the GATED base corpus
      (stage 3's dedup index, (doc_id, sig, band_idx, band_sig));
    - ``canon``: the gated base corpus's canonical labels (stage 3's
      cluster map, (doc_id, canonical_id)).

    ``bp``, ``c2``, ``freq`` and ``banded`` are persisted mid-build:
    later stages (the LM scores, the canonical stage's eager
    connected-components rounds) read them before the build ends.
    Lifecycle: the LM counts and band/canon tables are dt-partitionable
    rows with no cross-row state — merge/compact/expire transfers from
    refresh_segment_index + refresh_band_index (the banded artifact is
    LITERALLY the refresh_band_index layout); the cutoffs and total
    are numbers, rebuilt per refresh, not merged.
    """
    from project_orbit_spark.functions.textquality import lm_count_tables, tercile_cutoffs
    from project_orbit_spark.operators.dedup import _banded_signatures

    def build() -> dict:
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        segs = stage(doc_segment_arrays(d), "curation.segments")
        bp = boilerplate_set(segs).persist()
        scrubbed, total = scrub_stage(segs, bp)
        c2, freq = (t.persist() for t in lm_count_tables(scrubbed))
        scored, n = score_stage(scrubbed, c2, freq, total)
        cut1, cut2 = tercile_cutoffs(scored, n)
        gated = gate_stage(scored, cut1, cut2)
        banded = _banded_signatures(gated.select("doc_id", "text")).persist()
        canon = _canonical_stage(gated).select("doc_id", "canonical_id")
        return {
            "bp": bp, "c2": c2, "freq": freq, "total": total,
            "cut1": cut1, "cut2": cut2, "banded": banded, "canon": canon,
        }

    return memo(spark, ("curation_artifacts", sf_dir), build)


def _incremental_batch(d: DataFrame) -> DataFrame:
    """The synthesized nightly batch, two deterministic arms:
    re-crawls (every-7th doc verbatim, new_id = doc_id + 200000 — the
    usual injected-batch convention) and remixes (every-7th-offset-3
    doc's first half ∥ its +7 neighbor's first half, new_id =
    doc_id + 300000) — remixes share shingles with TWO base docs but
    usually below the 0.5 pair threshold with either, so both
    canonical outcomes (joins an existing cluster / founds its own)
    occur and the coalesce path is non-vacuous."""
    recrawl = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    ts = F.split(F.trim(F.lower("text")), r"\s+")
    half = lambda c: F.slice(  # noqa: E731
        c, 1, F.greatest(F.floor(F.size(c) / 2), F.lit(1)).cast("int")
    )
    a = d.filter(F.col("doc_id") % 7 == 3).select("doc_id", ts.alias("ta"))
    b = d.filter(F.col("doc_id") % 7 == 3).select(
        F.col("doc_id").alias("bid"), ts.alias("tb")
    )
    remix = a.join(b, F.col("bid") == F.col("doc_id") + 7).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.array_join(F.concat(half(F.col("ta")), half(F.col("tb"))), " ").alias(
            "text"
        ),
    )
    return recrawl.unionByName(remix)


@register(
    "incremental_curation_gold",
    # Was driver=False for round 12 only (case 2, registry.py:39);
    # flipped per the documented schedule — never-verified, so the LRV
    # sort fronts it in round 13's first-50 (also pinned in
    # _DRIVER_PRIORITY for explicitness). The round-13 label-gate
    # change (maybe_broadcast inside warm_curation_artifacts)
    # re-verified locally: tools/check.py sf0.01 + driver_sim.
    driver=True,
    bench=True,
    tags=("corpus", "curation", "incremental", "dedup", "pipeline"),
    prepare=warm_curation_artifacts,
    doc="The SIXTH O(new) incremental face (after the band, vector, "
    "span, model, and vocabulary indexes): a nightly crawl batch is "
    "curated end-to-end against the PERSISTED artifacts of the "
    "offline curation_training_gold build — scrubbed with the stored "
    "boilerplate set (never re-counting corpus df), scored by the "
    "stored bigram-LM count tables (bigrams the LM has never seen "
    "drop out — 'score what the model knows'), banded by the stored "
    "tercile cutoffs, near-dup-matched new-vs-INDEX against the "
    "stored band table only (never index-vs-index), split by hashing "
    "the matched cluster's EXISTING canonical id (a re-crawl of a "
    "training doc can never land in test — the leakage guard holds "
    "incrementally by construction, since the split is a pure "
    "function of canonical_id), and next-fit packed into FRESH packs "
    "per (split, shard). Batch = re-crawl arm (every-7th doc "
    "verbatim) + remix arm (first half of every-7th-offset-3 doc ∥ "
    "its +7 neighbor's first half), so both canonical outcomes occur. "
    "Per-run cost is O(new): every base-corpus-sized input is a "
    "broadcast/probe of a persisted artifact (bench prepare hook "
    "warms them outside the timer, mirroring incremental_minhash_"
    "dedup).",
    oracle=f"""
        WITH RECURSIVE {_CURATION_BASE_CTES},
        corpus0 AS MATERIALIZED (
          SELECT g.doc_id, sc.text
          FROM gated g JOIN scrubbed sc USING (doc_id)
          WHERE g.band <> 'tail'
        ),
        batch AS MATERIALIZED (
          SELECT doc_id + 200000 AS doc_id, text
          FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT a.doc_id + 300000 AS doc_id,
                 array_to_string(
                   a.ta[1:greatest(len(a.ta) // 2, 1)]
                   || b.tb[1:greatest(len(b.tb) // 2, 1)], ' ') AS text
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS ta
                FROM documents WHERE doc_id % 7 = 3) a
          JOIN (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS tb
                FROM documents WHERE doc_id % 7 = 3) b
            ON b.doc_id = a.doc_id + 7
        ),
        btok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM batch
        ),
        bseg AS (
          SELECT doc_id, (i - 1) // {_SEG_W} AS seg_idx,
                 {_SCRUB_SEG_SQL} AS seg,
                 CAST(CAST(('0x' || substring(md5({_SCRUB_SEG_SQL}), 1, 15))
                   AS UBIGINT) AS BIGINT) AS seg_hash
          FROM btok, UNNEST(range(1, len(toks) + 1, {_SEG_W})) AS t(i)
        ),
        bscrub AS MATERIALIZED (
          -- scrub against the PERSISTED base boilerplate set (sbp)
          SELECT s.doc_id,
                 coalesce(string_agg(
                   CASE WHEN b.seg_hash IS NULL THEN s.seg END, ' '
                   ORDER BY s.seg_idx), '') AS text
          FROM bseg s LEFT JOIN sbp b USING (seg_hash)
          GROUP BY s.doc_id
        ),
        bts AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts
          FROM bscrub
        ),
        bbig AS (
          SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
          FROM bts, UNNEST(range(1, len(ts))) AS t(i)
        ),
        bscore AS MATERIALIZED (
          -- inner joins against the PERSISTED LM tables: unseen
          -- bigrams drop out of the average
          SELECT b.doc_id,
                 round(avg(ln(
                   0.7 * (c2t.c2::DOUBLE / c1t.c1) +
                   0.3 * (f.cnt::DOUBLE / tot.total)
                 )), 4) AS avg_logprob
          FROM bbig b
          JOIN c2t USING (w1, w2)
          JOIN c1t USING (w1)
          JOIN freq f ON f.token = b.w2, tot
          GROUP BY b.doc_id
        ),
        gatedb AS MATERIALIZED (
          SELECT s.doc_id, sc.text,
                 CASE WHEN s.avg_logprob >= c.cut1 THEN 'head'
                      ELSE 'middle' END AS band
          FROM bscore s JOIN bscrub sc USING (doc_id), cuts c
          WHERE s.avg_logprob >= c.cut2
        ),
        corpus AS MATERIALIZED (
          SELECT doc_id, text FROM corpus0
          UNION ALL
          SELECT doc_id, text FROM gatedb
        ),
        {_MINHASH_PAIRS_BODY},
        pairsm AS MATERIALIZED (SELECT * FROM pairs),
        edges AS MATERIALIZED (
          -- BASE pairs only: batch docs never cluster with each other
          SELECT left_id AS src, right_id AS dst FROM pairsm
          WHERE left_id < 200000 AND right_id < 200000
          UNION
          SELECT right_id AS src, left_id AS dst FROM pairsm
          WHERE left_id < 200000 AND right_id < 200000
        ),
        reach(node, label) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
        ),
        labels AS (
          SELECT node AS doc_id, min(label) AS cluster_id
          FROM reach GROUP BY node
        ),
        canonb AS MATERIALIZED (
          SELECT c.doc_id, coalesce(l.cluster_id, c.doc_id) AS canonical_id
          FROM corpus0 c LEFT JOIN labels l USING (doc_id)
        ),
        bmatch AS (
          -- new-vs-INDEX matches only (left = base, right = batch in
          -- the body's left_id < right_id order)
          SELECT p.right_id AS doc_id, min(cb.canonical_id) AS base_canon
          FROM pairsm p JOIN canonb cb ON cb.doc_id = p.left_id
          WHERE p.left_id < 200000 AND p.right_id >= 200000
          GROUP BY p.right_id
        ),
        bcanon AS (
          SELECT g.doc_id, g.band,
                 coalesce(m.base_canon, g.doc_id) AS canonical_id
          FROM gatedb g LEFT JOIN bmatch m USING (doc_id)
        ),
        assign AS MATERIALIZED (
          SELECT cn.doc_id, cn.band, cn.canonical_id,
                 CASE WHEN cn.bucket < 80 THEN 'train'
                      WHEN cn.bucket < 90 THEN 'val'
                      ELSE 'test' END AS split,
                 cn.doc_id % {PACK_SHARDS} AS shard,
                 CAST(len(string_split_regex(trim(g.text), '\\s+'))
                   AS BIGINT) AS n_tokens
          FROM (SELECT doc_id, band, canonical_id,
                       {_LEAK_BUCKET_SQL} AS bucket
                FROM bcanon) cn
          JOIN gatedb g USING (doc_id)
        ),
        seq AS MATERIALIZED (
          SELECT *, row_number() OVER (
            PARTITION BY split, shard ORDER BY doc_id) AS rn
          FROM assign
        ),
        walk(doc_id, band, canonical_id, split, shard, n_tokens,
             rn, pack_id, fill) AS (
          SELECT doc_id, band, canonical_id, split, shard, n_tokens,
                 rn, CAST(0 AS BIGINT), n_tokens
          FROM seq WHERE rn = 1
          UNION ALL
          SELECT s.doc_id, s.band, s.canonical_id, s.split, s.shard,
                 s.n_tokens, s.rn,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN w.pack_id + 1 ELSE w.pack_id END,
                 CASE WHEN w.fill + s.n_tokens > {PACK_BUDGET}
                      THEN s.n_tokens ELSE w.fill + s.n_tokens END
          FROM walk w
          JOIN seq s ON s.split = w.split AND s.shard = w.shard
                    AND s.rn = w.rn + 1
        )
        SELECT doc_id AS new_id, band, canonical_id, split, shard,
               n_tokens, pack_id, fill AS pack_fill
        FROM walk ORDER BY new_id
    """,
)
def incremental_curation_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    art = warm_curation_artifacts(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return curate_batch(_incremental_batch(d), art)


def curate_batch(batch: DataFrame, art: dict) -> DataFrame:
    """The O(new) curation of one (doc_id, text) batch against the
    persisted artifacts — the stage chain incremental_curation_gold
    registers, factored out so the streaming twin
    (streaming/curation.py::stream_curate_docs) runs the IDENTICAL
    plan builder per micro-batch (the stream_cluster_assign
    pattern). Every stage is the offline pipeline's stage function
    fed the persisted artifact instead of a refit."""
    from project_orbit_spark.operators import dedup as dedup_ops
    from project_orbit_spark.operators.dedup import (
        _banded_signatures,
        match_new_vs_index,
    )

    # stage 1 (O(new)): scrub against the persisted boilerplate set.
    # The scrubbed batch feeds the LM scorer and the text join, so it
    # is a barrier, bounded by batch size at any corpus scale.
    scrub, _ = scrub_stage(doc_segment_arrays(batch), art["bp"])
    # stage 2 (O(new)): score against the persisted LM, band by the
    # persisted cutoffs, drop the tail. pin_vocab=False: the count
    # tables here are PERSISTED artifacts — InMemoryRelation stats are
    # exact materialized sizes, not the guessed/compressed class the
    # full-fit pin defends against — and the O(new) batch side is the
    # legitimate broadcast candidate at 100 TB. The gate is a map-only
    # filter over the counted scores barrier.
    scored, _ = score_stage(scrub, art["c2"], art["freq"], art["total"], pin_vocab=False)
    gated = gate_stage(scored, art["cut1"], art["cut2"])
    # stage 3 (O(new)): band the batch, match new-vs-INDEX only
    # (dedup.match_new_vs_index — the SHARED helper, so the signature
    # length/threshold can never drift from the incremental minhash
    # face), and inherit the matched cluster's EXISTING canonical id.
    m = match_new_vs_index(
        _banded_signatures(gated.select("doc_id", "text")), art["banded"]
    )
    bmatch = (
        m.join(art["canon"], F.col("match_id") == F.col("doc_id"))
        .groupBy("new_id")
        .agg(F.min("canonical_id").alias("base_canon"))
    )
    # bmatch is BATCH-bounded (≤1 row per gated batch doc), so its
    # broadcast goes through the same gate as the other batch sides;
    # probe = the counted scores barrier, a row upper bound of the
    # gated batch whose count was observed on its checkpoint job.
    gb = maybe_broadcast(bmatch, dedup_ops.INCREMENTAL_BATCH_BOUND, probe=scored)
    canon = gated.join(
        gb, gated["doc_id"] == bmatch["new_id"], "left"
    ).withColumn(
        "canonical_id",
        F.coalesce("base_canon", F.col("doc_id")).cast("long"),
    )
    # stage 4 (O(new)): next-fit pack the batch into FRESH packs
    return _pack_curated(canon).select(
        F.col("doc_id").alias("new_id"),
        "band",
        "canonical_id",
        "split",
        "shard",
        "n_tokens",
        "pack_id",
        "pack_fill",
    )
