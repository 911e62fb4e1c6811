"""Text/scalar extraction bank over the documents corpus.

Re-expresses SURVEY.md §2.7 as pure Spark SQL expressions (no Python
UDFs in the hot path): fixed-size chunker C1, money parser C2,
hash family C14, slug/id C13, token counting, truncation C21,
title/excerpt pickers C20, risk-lexicon scan E7.

Everything here is whole-stage-codegen eligible — the reference does
each of these as a per-document Python call (its biggest single-node
inefficiency, SURVEY §4); at 100 TB these run as vectorized JVM
expressions inside the scan stage with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load, observed, stage
from project_orbit_spark.registry import register

# ---------------------------------------------------------------------------
# library primitives


def chunk_text(text: Column, chunk_size: int = 1000) -> Column:
    """C1 fixed-size non-overlapping chunker (ref
    src/services/chunker.py:21-22: [text[i:i+n] for i in range(0,len,n)]).
    Returns array<struct<chunk_idx int, chunk_text string>>."""
    n_chunks = F.greatest(F.ceil(F.length(text) / chunk_size), F.lit(1)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.substring(text, i * chunk_size + 1, chunk_size).alias("chunk_text"),
        ),
    )


def parse_money(s: Column) -> Column:
    """C2 money parser (ref src/scraper_v2.py:2835-2864): '$5.5B',
    '$10M', '$100K' → dollars as double. Multiplier checked in
    B→M→K order exactly like the reference (billion before million
    before thousand)."""
    num = F.regexp_extract(s, r"\$\s*([0-9]+(?:\.[0-9]+)?)", 1).cast("double")
    suffix = F.upper(F.regexp_extract(s, r"\$\s*[0-9]+(?:\.[0-9]+)?\s*([BMK])", 1))
    mult = (
        F.when(suffix == "B", 1e9)
        .when(suffix == "M", 1e6)
        .when(suffix == "K", 1e3)
        .otherwise(1.0)
    )
    return num * mult


def parse_money_loose(s: Column) -> Column:
    """C2 money parser, the reference's FULL normalization ladder
    (src/scraper_v2.py:2835-2864) as pure codegen expressions:
    lowercase → strip leading qualifier words (about/around/…/almost)
    → remove us$/usd/~/$/commas → multiplier by CONTAINMENT in the
    reference's precedence order (billion|bn ≫ million|mn|m ≫
    thousand|k — containment, not word match, mirroring the Python
    `token in normalized` checks) → strip multiplier tokens → cast.
    Non-numeric residue yields NULL (the reference returns None).
    Subset note: the residue gate accepts plain decimals only — the
    reference's float() would also take exponent forms, which never
    occur in money phrases."""
    norm = F.trim(F.lower(s))
    norm = F.regexp_replace(
        norm, r"^(about|around|approximately|nearly|over|more than|up to|almost)\s+", ""
    )
    norm = F.trim(F.regexp_replace(norm, r"us\$|usd|[~$,]", ""))
    mult = (
        F.when(norm.contains("billion") | norm.contains("bn"), F.lit(1e9))
        .when(
            norm.contains("million") | norm.contains("mn") | norm.contains("m"),
            F.lit(1e6),
        )
        .when(norm.contains("thousand") | norm.contains("k"), F.lit(1e3))
        .otherwise(F.lit(1.0))
    )
    num = F.trim(F.regexp_replace(norm, r"(billion|million|thousand|bn|mn|m|k)", ""))
    value = F.when(num.rlike(r"^[0-9]+(\.[0-9]+)?$"), num.cast("double"))
    return value * mult


def slugify(s: Column, max_len: int = 30) -> Column:
    """C13 slug/id generation (ref
    src/structured_extraction_v2.py:3004-3008):
    re.sub('[^a-z0-9]+','_', s.lower())[:30]."""
    return F.substring(F.regexp_replace(F.lower(s), "[^a-z0-9]+", "_"), 1, max_len)


# ---------------------------------------------------------------------------
# registered queries


@register(
    "chunk_documents",
    bench=True,
    tags=("text", "chunker"),
    doc="C1 fixed-size chunker (ref src/services/chunker.py:21-22) at "
    "chunk_size=200 over documents, exploded to one row per chunk "
    "with provenance ids (ref vector-id scheme "
    "src/handle_chunking.py:159-181).",
    oracle="""
        SELECT
          doc_id,
          i - 1                                   AS chunk_idx,
          substring(text, (i - 1) * 200 + 1, 200) AS chunk_text,
          length(substring(text, (i - 1) * 200 + 1, 200)) AS chunk_len
        FROM documents,
             UNNEST(range(1, greatest(CAST(ceil(length(text) / 200.0) AS BIGINT), 1) + 1))
               AS t(i)
        ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(chunk_text(F.col("text"), 200)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.length("c.chunk_text").cast("long").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "doc_hashes",
    tags=("text", "hash"),
    doc="C14 hash family (ref sha256 page hash src/scraper_v2.py:1138; "
    "md5 vector id src/services/embeddings.py:190): content digests "
    "per document — the exact-dup / incremental-change keys.",
    oracle="""
        SELECT doc_id, md5(text) AS md5_hash, sha256(text) AS sha256_hash,
               md5(lower(trim(text))) AS normalized_fingerprint
        FROM documents
        ORDER BY doc_id
    """,
)
def doc_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_hash"),
        F.sha2("text", 256).alias("sha256_hash"),
        F.md5(F.lower(F.trim("text"))).alias("normalized_fingerprint"),
    ).orderBy("doc_id")


@register(
    "doc_slug_ids",
    tags=("text", "slug"),
    doc="C13 slug/id generation (ref "
    "src/structured_extraction_v2.py:3004-3008,3316-3318): 30-char "
    "slug from the document head + composite id with zero-padded parts.",
    oracle="""
        SELECT
          doc_id,
          substring(regexp_replace(lower(substring(text, 1, 60)), '[^a-z0-9]+', '_', 'g'), 1, 30)
            AS slug,
          concat(lang, '_', source, '_',
                 lpad(CAST(doc_id AS VARCHAR), 6, '0')) AS composite_id
        FROM documents
        ORDER BY doc_id
    """,
)
def doc_slug_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        slugify(F.substring("text", 1, 60)).alias("slug"),
        F.concat_ws(
            "_", "lang", "source", F.lpad(F.col("doc_id").cast("string"), 6, "0")
        ).alias("composite_id"),
    ).orderBy("doc_id")


@register(
    "token_stats",
    bench=True,
    tags=("text", "tokens"),
    doc="Token counting + W5 reading time (ref "
    "src/scraper_v2.py:862-863 max(1, words//200)) + A5 page stats: "
    "whitespace tokens, regex word tokens, avg token length.",
    oracle="""
        SELECT
          doc_id,
          len(string_split_regex(trim(text), '\\s+'))       AS ws_tokens,
          len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word_tokens,
          greatest(1, len(string_split_regex(trim(text), '\\s+')) // 200) AS reading_time_min,
          round(length(text)::DOUBLE
                / nullif(len(string_split_regex(trim(text), '\\s+')), 0), 4) AS chars_per_token
        FROM documents
        ORDER BY doc_id
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    words = F.size(F.regexp_extract_all(F.lower("text"), F.lit("([a-z0-9]+)")))
    return d.select(
        "doc_id",
        ws.cast("long").alias("ws_tokens"),
        words.cast("long").alias("word_tokens"),
        F.greatest(F.lit(1), F.floor(ws / 200)).cast("long").alias("reading_time_min"),
        F.round(
            F.length("text").cast("double") / F.nullif(ws, F.lit(0)).cast("double"), 4
        ).alias("chars_per_token"),
    ).orderBy("doc_id")


# GPT-2-style pre-tokenizer, ASCII subset: a leading-space word, a
# leading-space number run, a leading-space punctuation run, or bare
# whitespace — the segmentation BPE merges start from. Same leftmost
# alternation semantics in Java regex (Spark) and RE2 (DuckDB).
BPE_PRETOKEN_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"


@register(
    "bpe_token_estimate",
    tags=("text", "tokens"),
    doc="BPE-ish token counting (the training-cost estimator a corpus "
    "pipeline budgets with): GPT-2-style pre-tokenizer regex match "
    "count as the upper segmentation, chars/4 as the classic lower "
    "heuristic, and their ratio. Pure regexp_extract_all — codegen, "
    "zero shuffle.",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}')) AS BIGINT)
                 AS bpe_pretokens,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS chars_div4,
               round(len(regexp_extract_all(text, '{BPE_PRETOKEN_RE}'))::DOUBLE
                     / nullif(ceil(length(text) / 4.0), 0), 4) AS pretoken_ratio
        FROM documents
        ORDER BY doc_id
    """,
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    pre = F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0))
    c4 = F.ceil(F.length("text") / 4.0)
    return d.select(
        "doc_id",
        pre.cast("long").alias("bpe_pretokens"),
        c4.cast("long").alias("chars_div4"),
        F.round(pre.cast("double") / F.nullif(c4, F.lit(0)).cast("double"), 4).alias(
            "pretoken_ratio"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE merge learning (VERDICT r13 ask #4): the stage bpe_token_estimate
# only APPLIES — a real 100 TB pipeline LEARNS the merge table.

BPE_MERGES = 6  # learned merge rounds (fixed, like the kmeans Lloyd ITERS)


def bpe_word_histogram(d: DataFrame) -> DataFrame:
    """ONE corpus-scale pass: normalize to [a-z] words and count —
    a single map-side-combinable shuffle. Everything after operates
    on this VOCAB-sized table (Heaps' law: sublinear in corpus size),
    which is what makes merge learning tractable at 100 TB: the k
    iterations never touch the corpus again."""
    return (
        d.select(
            F.explode(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), "[^a-z]+", " ")), " +"
                )
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_pair_counts(seg: DataFrame) -> DataFrame:
    """Adjacent-symbol pair histogram weighted by word frequency.
    sequence() is guarded on size >= 2 — sequence(1, 0) DESCENDS in
    Spark and would fabricate pairs on single-symbol words."""
    pairs = F.when(
        F.size("s") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("s") - 1),
            lambda i: F.struct(
                F.element_at("s", i).alias("l"),
                F.element_at("s", i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        seg.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _bpe_apply_merge(seg: DataFrame, best: DataFrame) -> DataFrame:
    """Re-segment every word applying ONE merge greedily left-to-right
    — a sequential F.aggregate fold (the same engine-portable fold
    family as the cosine dot product): if the accumulator's last
    symbol is the merge's left and the incoming symbol its right,
    replace the tail with the merged symbol, else append. The 1-row
    best-pair table joins in by crossJoin (broadcast, kmeans-style) —
    no collect, the loop stays fully declarative. All non-``s``
    columns of ``seg`` are carried through."""
    fold = F.aggregate(
        "s",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("left_sym"))
            & (x == F.col("right_sym")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.col("merged"))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    carried = [c for c in seg.columns if c != "s"]
    return seg.crossJoin(F.broadcast(best)).select(*carried, fold.alias("s"))


def _bpe_stage_ctes(k: int, final_seg: bool = False) -> list[str]:
    """Unrolled k-stage DuckDB CTE chain (the kmeans-oracle pattern,
    operators/clustering.py: mirror the pipeline iteration by
    iteration). list_reduce's string fold is exactly the Spark
    F.aggregate greedy merge: symbols are [a-z]+ so a space-joined
    accumulator is unambiguous and regex-safe. With ``final_seg``,
    also emits seg_k (the vocabulary AFTER all k merges — the
    tokenize face's lookup table)."""
    parts = [
        """words AS (
          SELECT w AS word, count(*)::BIGINT AS freq
          FROM documents, UNNEST(string_split_regex(
            trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' +')) t(w)
          WHERE w != ''
          GROUP BY w
        )""",
        """seg_0 AS (
          SELECT word, freq,
                 list_transform(range(1, len(word) + 1), i -> word[i]) AS s
          FROM words
        )""",
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""pairs_{i} AS (
          SELECT u.p.l AS l, u.p.r AS r, sum(freq)::BIGINT AS cnt
          FROM seg_{i - 1}, UNNEST(list_transform(
            range(1, len(s)), j -> {{'l': s[j], 'r': s[j + 1]}})) u(p)
          GROUP BY u.p.l, u.p.r
        )"""
        )
        parts.append(
            f"""best_{i} AS (
          SELECT {i}::BIGINT AS merge_rank, l AS left_sym, r AS right_sym,
                 l || r AS merged, cnt AS pair_count
          FROM pairs_{i} ORDER BY cnt DESC, l, r LIMIT 1
        )"""
        )
        if i < k or final_seg:
            # LEFT JOIN ON TRUE, not an implicit cross join (ADVICE
            # r14 #1): when best_i is empty (pairs exhausted before
            # round k) the row survives with NULL merge symbols, the
            # CASE's NULL equality is never true, and the fold leaves
            # the segmentation as-is — mirroring the Spark loop's
            # break-keeping-seg. A cross join would empty seg_i and
            # every downstream stage with it.
            parts.append(
                f"""seg_{i} AS (
          SELECT word, freq, string_split(list_reduce(s, (acc, x) -> CASE
              WHEN regexp_extract(acc, '[^ ]+$') = b.left_sym
                   AND x = b.right_sym
              THEN regexp_replace(acc, '[^ ]+$', b.merged)
              ELSE acc || ' ' || x END), ' ') AS s
          FROM seg_{i - 1} LEFT JOIN best_{i} b ON TRUE
        )"""
            )
    return parts


def _bpe_oracle_sql(k: int) -> str:
    union = "\n          UNION ALL ".join(
        f"SELECT * FROM best_{i}" for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n        ".join(_bpe_stage_ctes(k))
        + f"\n        SELECT * FROM ({union})\n        ORDER BY merge_rank"
    )


@register(
    "bpe_learn_merges",
    tags=("text", "tokens", "iterative"),
    doc="BPE pair-merge LEARNING (Sennrich et al. 2016; VERDICT r13 "
    "ask #4 — bpe_token_estimate applies a fixed table, a real "
    "pipeline learns it): one corpus pass builds the word-frequency "
    "histogram, then 6 fixed rounds of (adjacent-pair count weighted "
    "by word freq -> argmax pair with deterministic (cnt desc, l, r) "
    "tie-break -> greedy left-to-right re-segmentation) run entirely "
    "on the VOCAB-sized table — bounded iterative state with "
    "a per-round stage barrier, the kmeans Lloyd-loop discipline. "
    "Emits the learned merge table. The oracle unrolls all 6 stages "
    "(list_reduce string fold == F.aggregate array fold, verified by "
    "the property test vs a pure-Python BPE reference).",
    oracle=_bpe_oracle_sql(BPE_MERGES),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_fit(spark, sf_dir, final_seg=False)
    if not merges:  # no adjacent pairs anywhere
        return spark.createDataFrame(
            [],
            "merge_rank long, left_sym string, right_sym string, "
            "merged string, pair_count long",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


def _bpe_fit(
    spark: SparkSession, sf_dir: str, final_seg: bool
) -> tuple[list[DataFrame], DataFrame]:
    """The shared BPE_MERGES-round fit (see bpe_learn_merges for the
    loop contract): returns the per-round 1-row merge tables and the
    word segmentation — after BPE_MERGES-1 merges by default (the
    learn face never consumes the last re-segmentation), or after all
    BPE_MERGES with ``final_seg`` (the tokenize face's vocab map).

    Degenerate-corpus guard: if the corpus exhausts
    mergeable pairs before BPE_MERGES rounds (every word fully merged
    or single-symbol), the loop BREAKS keeping the merges learned so
    far and the current segmentation — mirroring the ``if not
    best_rows: break`` in the property test's pure-Python reference —
    instead of crossJoining the segmentation against an empty 1-row
    table, which would silently empty every downstream face. The
    probe is the row count the argmax's stage barrier observed — no
    extra job. The DuckDB oracle's unrolled stages
    degenerate identically (``FROM seg LEFT JOIN best b`` with empty
    best keeps seg as-is), so both engines emit the same partial
    table."""
    d = load(spark, sf_dir, "documents")
    return _bpe_fit_words(bpe_word_histogram(d), final_seg)


def _bpe_fit_words(
    words: DataFrame, final_seg: bool
) -> tuple[list[DataFrame], DataFrame]:
    """_bpe_fit's merge loop over an explicit (word, freq) histogram —
    split out so the degenerate-corpus break is unit-testable on a
    hand-built vocab (tests/test_properties.py)."""
    seg = stage(words.select("word", "freq", F.split("word", "").alias("s")), "bpe.seg")
    merges: list[DataFrame] = []
    for i in range(1, BPE_MERGES + 1):
        best = stage(
            _bpe_pair_counts(seg)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .select(
                F.lit(i).cast("long").alias("merge_rank"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("cnt").alias("pair_count"),
            ),
            "bpe.best",
        )
        if not observed(best)["rows"]:  # pairs exhausted — keep partial fit
            break
        merges.append(best)
        if i < BPE_MERGES or final_seg:
            seg = stage(
                _bpe_apply_merge(seg, best.select("left_sym", "right_sym", "merged")),
                "bpe.seg",
            )
    return merges, seg


_BPE_VOCAB_BROADCAST_BOUND = 2_000_000  # ~short-string rows; Heaps-bounded


@register(
    "bpe_tokenize_corpus",
    tags=("text", "tokens", "iterative"),
    doc="The APPLY face closing the BPE loop (learn -> tokenize): "
    "segment every document with the bpe_learn_merges table and emit "
    "per-doc real-BPE subtoken counts next to the word count — the "
    "corpus-costing number bpe_token_estimate approximates. Plan: the "
    "fit runs on the vocab-sized table (see bpe_learn_merges), the "
    "final per-WORD segmentation becomes a word->n_subtokens map "
    "(vocab-sized, Heaps-bounded), and the SECOND corpus pass joins "
    "exploded doc words against that map — size-gated broadcast "
    "(maybe_broadcast): at 100 TB the vocab map is the classic "
    "dictionary build side, but the gate keeps a pathological vocab "
    "from being forced driver-side. Oracle reuses the same unrolled "
    "stage CTEs plus the final seg_k join.",
    oracle="WITH "
    + ",\n        ".join(_bpe_stage_ctes(BPE_MERGES, final_seg=True))
    + f""",
        vocab AS (
          SELECT word, len(s)::BIGINT AS n_sub FROM seg_{BPE_MERGES}
        ),
        docw AS (
          SELECT doc_id, w AS word
          FROM documents, UNNEST(string_split_regex(
            trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' +')) t(w)
          WHERE w != ''
        )
        SELECT doc_id, count(*)::BIGINT AS n_words,
               sum(n_sub)::BIGINT AS n_bpe_tokens,
               round(sum(n_sub)::DOUBLE / count(*), 4) AS subtokens_per_word
        FROM docw JOIN vocab USING (word)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def bpe_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import maybe_broadcast

    _, seg = _bpe_fit(spark, sf_dir, final_seg=True)
    vocab = seg.select("word", F.size("s").cast("long").alias("n_sub"))
    d = load(spark, sf_dir, "documents")
    docw = d.select(
        "doc_id",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), "[^a-z]+", " ")), " +"
            )
        ).alias("word"),
    ).filter(F.col("word") != "")
    # vocab is a one-row-per-word projection of the fit's final stage
    # barrier, so the barrier's observed row count gates it at no job
    return (
        docw.join(
            maybe_broadcast(vocab, _BPE_VOCAB_BROADCAST_BOUND, probe=seg),
            "word",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ).alias("subtokens_per_word"),
        )
        .orderBy("doc_id")
    )


@register(
    "money_roundtrip",
    tags=("text", "regex"),
    doc="C2 money parser (ref src/scraper_v2.py:2835-2864): format "
    "order totals as '$X.XXK' strings then parse back to dollars — "
    "exercises the regex + multiplier ladder deterministically. The "
    "string derives from INTEGER arithmetic on floor(dollars): "
    "float round() at a formatting boundary (e.g. 77.195) resolves "
    "ties differently in Spark (decimal-string HALF_UP) vs DuckDB "
    "(binary), so no float rounding may touch the planted string.",
    oracle="""
        WITH labeled AS (
          SELECT o_orderkey,
                 '$' || CAST(whole // 1000 AS VARCHAR) || '.'
                     || lpad(CAST((whole % 1000) // 10 AS VARCHAR), 2, '0') || 'K'
                   AS money_str
          FROM (
            SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS whole
            FROM orders WHERE o_orderkey % 100 = 0
          )
        )
        SELECT o_orderkey, money_str,
               round(
                 CAST(regexp_extract(money_str, '\\$\\s*([0-9]+(?:\\.[0-9]+)?)', 1) AS DOUBLE)
                 * CASE upper(regexp_extract(money_str, '\\$\\s*[0-9]+(?:\\.[0-9]+)?\\s*([BMK])', 1))
                     WHEN 'B' THEN 1e9 WHEN 'M' THEN 1e6 WHEN 'K' THEN 1e3 ELSE 1.0 END,
               2) AS parsed_usd
        FROM labeled
        ORDER BY o_orderkey
    """,
)
def money_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    whole = F.floor("o_totalprice").cast("long")
    money_str = F.concat(
        F.lit("$"),
        F.floor(whole / 1000).cast("long").cast("string"),
        F.lit("."),
        F.lpad(F.floor((whole % 1000) / 10).cast("long").cast("string"), 2, "0"),
        F.lit("K"),
    )
    labeled = o.select("o_orderkey", money_str.alias("money_str"))
    return labeled.select(
        "o_orderkey",
        "money_str",
        F.round(parse_money(F.col("money_str")), 2).alias("parsed_usd"),
    ).orderBy("o_orderkey")


@register(
    "money_phrase_parsing",
    tags=("text", "regex"),
    doc="C2 money parser over reference-style PHRASES (ref "
    "src/scraper_v2.py:2835-2864 full ladder, vs money_roundtrip's "
    "suffix grammar): qualifier words, ~, usd prefixes, and word/"
    "abbreviation multipliers (million/bn/thousand/m) templated "
    "deterministically from orders, parsed by parse_money_loose; the "
    "oracle reproduces the same normalization in SQL, so precedence "
    "or stripping drift breaks the hash.",
    oracle="""
        WITH phrased AS (
          SELECT o_orderkey,
                 CASE o_orderkey % 5
                   WHEN 0 THEN 'about $' || amt || ' million'
                   WHEN 1 THEN '~$' || amt || 'bn'
                   WHEN 2 THEN 'USD ' || amt || ' thousand'
                   WHEN 3 THEN 'up to $' || amt || 'M'
                   ELSE '$' || amt
                 END AS phrase
          FROM (
            SELECT o_orderkey,
                   CAST(CAST(floor(o_totalprice) AS BIGINT) % 900 + 1 AS VARCHAR)
                     || '.' || CAST(CAST(floor(o_totalprice) AS BIGINT) % 10 AS VARCHAR)
                     AS amt
            FROM orders WHERE o_orderkey % 97 = 0
          )
        ),
        normed AS (
          SELECT o_orderkey, phrase,
                 trim(regexp_replace(
                   regexp_replace(trim(lower(phrase)),
                     '^(about|around|approximately|nearly|over|more than|up to|almost)\\s+', ''),
                   'us\\$|usd|[~$,]', '', 'g')) AS norm
          FROM phrased
        )
        SELECT o_orderkey, phrase,
               round(
                 CASE WHEN regexp_matches(num, '^[0-9]+(\\.[0-9]+)?$')
                      THEN CAST(num AS DOUBLE) END * mult, 2) AS parsed_usd
        FROM (
          SELECT o_orderkey, phrase,
                 CASE WHEN norm LIKE '%billion%' OR norm LIKE '%bn%' THEN 1e9
                      WHEN norm LIKE '%million%' OR norm LIKE '%mn%'
                           OR norm LIKE '%m%' THEN 1e6
                      WHEN norm LIKE '%thousand%' OR norm LIKE '%k%' THEN 1e3
                      ELSE 1.0 END AS mult,
                 trim(regexp_replace(norm,
                   '(billion|million|thousand|bn|mn|m|k)', '', 'g')) AS num
          FROM normed
        )
        ORDER BY o_orderkey
    """,
)
def money_phrase_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    whole = F.floor("o_totalprice").cast("long")
    amt = F.concat(
        (whole % 900 + 1).cast("string"), F.lit("."), (whole % 10).cast("string")
    )
    phrase = (
        F.when(F.col("o_orderkey") % 5 == 0, F.concat(F.lit("about $"), amt, F.lit(" million")))
        .when(F.col("o_orderkey") % 5 == 1, F.concat(F.lit("~$"), amt, F.lit("bn")))
        .when(F.col("o_orderkey") % 5 == 2, F.concat(F.lit("USD "), amt, F.lit(" thousand")))
        .when(F.col("o_orderkey") % 5 == 3, F.concat(F.lit("up to $"), amt, F.lit("M")))
        .otherwise(F.concat(F.lit("$"), amt))
    )
    labeled = o.select("o_orderkey", phrase.alias("phrase"))
    return labeled.select(
        "o_orderkey",
        "phrase",
        F.round(parse_money_loose(F.col("phrase")), 2).alias("parsed_usd"),
    ).orderBy("o_orderkey")


RISK_LEXICON: dict[str, tuple[str, str]] = {
    # risk_class -> (keyword, severity)  (shape of src/risk_detection.py:21-82)
    "latency": ("slow", "medium"),
    "stability": ("error", "high"),
    "volume": ("big", "low"),
}


@register(
    "risk_lexicon_scan",
    bench=True,
    tags=("text", "risk"),
    doc="E7 risk keyword detection (ref src/risk_detection.py:21-82): "
    "explode a severity-tagged lexicon across documents, locate the "
    "first hit, cut a ±40-char context window, one signal per "
    "(doc, risk_class) — the dedup at src/risk_detection.py:197-206.",
    oracle="""
        WITH lexicon AS (
          SELECT * FROM (VALUES
            ('latency', 'slow', 'medium'),
            ('stability', 'error', 'high'),
            ('volume', 'big', 'low')
          ) AS t(risk_class, keyword, severity)
        )
        SELECT d.doc_id, x.risk_class, x.severity, x.keyword,
               strpos(lower(d.text), x.keyword) AS hit_pos,
               substring(d.text,
                         greatest(1, strpos(lower(d.text), x.keyword) - 40),
                         length(x.keyword) + 80) AS context
        FROM documents d
        JOIN lexicon x ON strpos(lower(d.text), x.keyword) > 0
        ORDER BY d.doc_id, x.risk_class
    """,
)
def risk_lexicon_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    lex = F.array(
        *[
            F.struct(
                F.lit(cls).alias("risk_class"),
                F.lit(kw).alias("keyword"),
                F.lit(sev).alias("severity"),
            )
            for cls, (kw, sev) in RISK_LEXICON.items()
        ]
    )
    exploded = d.select("doc_id", "text", F.explode(lex).alias("x"))
    pos = F.instr(F.lower("text"), F.col("x.keyword"))
    return (
        exploded.filter(pos > 0)
        .select(
            "doc_id",
            F.col("x.risk_class").alias("risk_class"),
            F.col("x.severity").alias("severity"),
            F.col("x.keyword").alias("keyword"),
            pos.cast("long").alias("hit_pos"),
            F.substring(
                "text",
                F.greatest(F.lit(1), pos - 40),
                F.length("x.keyword") + 80,
            ).alias("context"),
        )
        .orderBy("doc_id", "risk_class")
    )


@register(
    "keyword_paragraph_filter",
    tags=("text", "filter", "window"),
    doc="F1 keyword paragraph filter + char budget (ref "
    "src/structured_extraction_v2.py:1274-1325): keep docs containing "
    "any target keyword, then accumulate per lang in doc_id order up "
    "to a 3000-char budget (the reference's 5000/8000-char cap).",
    oracle="""
        SELECT lang, doc_id, n_chars, running_chars
        FROM (
          SELECT lang, doc_id, n_chars,
                 CAST(sum(n_chars) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS running_chars
          FROM documents
          WHERE contains(lower(text), 'spark') OR contains(lower(text), 'stream')
        ) t
        WHERE running_chars <= 3000
        ORDER BY lang, doc_id
    """,
)
def keyword_paragraph_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(
        F.lower("text").contains("spark") | F.lower("text").contains("stream")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("running_chars", F.sum("n_chars").over(w))
        .filter(F.col("running_chars") <= 3000)
        .select("lang", "doc_id", "n_chars", "running_chars")
        .orderBy("lang", "doc_id")
    )


@register(
    "title_excerpt_picker",
    tags=("text",),
    doc="C20/C21 title & excerpt pickers + truncation (ref "
    "src/structured_extraction_v2.py:3253-3279,3355-3358): first "
    "45 chars cut at a word boundary as title, first 120 chars with "
    "ellipsis as excerpt.",
    oracle="""
        SELECT
          doc_id,
          regexp_extract(text, '^(.{10,45})\\s', 1) AS title,
          CASE WHEN length(text) > 120
               THEN substring(text, 1, 120) || '...'
               ELSE text END AS excerpt
        FROM documents
        ORDER BY doc_id
    """,
)
def title_excerpt_picker(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"^(.{10,45})\s", 1).alias("title"),
        F.when(
            F.length("text") > 120,
            F.concat(F.substring("text", 1, 120), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("excerpt"),
    ).orderBy("doc_id")


@register(
    "chunk_vector_ids",
    tags=("text", "chunker", "hash"),
    doc="S9/C14/J4 chunk → vector-id pipeline (ref id scheme "
    "{company}_{page}_{i}_{hash%10000} at src/handle_chunking.py:"
    "159-181, md5 default id src/services/embeddings.py:190): chunks "
    "with md5 content ids, a composite provenance id whose hash "
    "suffix derives portably from md5 hex (SURVEY §7.4: no Python-"
    "hash bit parity), and provenance columns carried — no shuffle.",
    oracle="""
        WITH chunks AS (
          SELECT doc_id, source, i - 1 AS chunk_idx,
                 substring(text, (i - 1) * 200 + 1, 200) AS chunk_text
          FROM documents,
               UNNEST(range(1, greatest(CAST(ceil(length(text) / 200.0) AS BIGINT), 1) + 1))
                 AS t(i)
        )
        SELECT doc_id, chunk_idx,
               md5(chunk_text) AS content_id,
               source || '_' || CAST(doc_id AS VARCHAR) || '_'
                 || CAST(chunk_idx AS VARCHAR) || '_'
                 || CAST(CAST(('0x' || substring(md5(chunk_text), 1, 8)) AS UBIGINT)
                         % 10000 AS VARCHAR) AS vector_id
        FROM chunks
        ORDER BY doc_id, chunk_idx
    """,
)
def chunk_vector_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id", "source", F.explode(chunk_text(F.col("text"), 200)).alias("c")
    ).select(
        "doc_id",
        "source",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
    )
    hash_suffix = (
        F.conv(F.substring(F.md5("chunk_text"), 1, 8), 16, 10).cast("long") % 10000
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("content_id"),
        F.concat_ws(
            "_",
            "source",
            F.col("doc_id").cast("string"),
            F.col("chunk_idx").cast("string"),
            hash_suffix.cast("string"),
        ).alias("vector_id"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "page_stats_arrays",
    tags=("text", "arrays"),
    doc="A5 per-page statistics via array functions, zero shuffle "
    "(ref src/scraper_v2.py:1165-1172): token totals, 'internal/"
    "external' split by a token predicate, distinct count, longest "
    "token — size/filter/array_max over the split array.",
    oracle="""
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        )
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(len(list_filter(t, x -> starts_with(x, 's'))) AS BIGINT) AS s_tokens,
               CAST(len(list_filter(t, x -> NOT starts_with(x, 's'))) AS BIGINT)
                 AS other_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS distinct_tokens,
               list_max(list_transform(t, x -> length(x))) AS longest_token
        FROM toks
        ORDER BY doc_id
    """,
)
def page_stats_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    t = F.split(F.trim(F.lower("text")), r"\s+")
    stats = d.select("doc_id", t.alias("t"))
    return stats.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.filter(F.col("t"), lambda x: x.startswith("s"))).cast("long").alias(
            "s_tokens"
        ),
        F.size(F.filter(F.col("t"), lambda x: ~x.startswith("s"))).cast("long").alias(
            "other_tokens"
        ),
        F.size(F.array_distinct("t")).cast("long").alias("distinct_tokens"),
        F.array_max(F.transform(F.col("t"), lambda x: F.length(x)))
        .cast("long")
        .alias("longest_token"),
    ).orderBy("doc_id")


@register(
    "bpe_fertility_by_lang",
    tags=("text", "tokens", "corpus"),
    doc="Tokenizer fertility datasheet (subtokens per word, the "
    "standard tokenizer-evaluation metric; XLM/NLLB report it per "
    "language to expose under-served scripts): the learned BPE "
    "vocabulary's segmentation rolled up per language — high "
    "fertility means the merge table (trained on the whole corpus, "
    "hence dominated by the majority language) splits that "
    "language's words into more pieces. Same plan as "
    "bpe_tokenize_corpus with the per-doc regroup replaced by a "
    "5-row language rollup (order-free integer sums).",
    oracle="WITH "
    + ",\n        ".join(_bpe_stage_ctes(BPE_MERGES, final_seg=True))
    + f""",
        vocab AS (
          SELECT word, len(s)::BIGINT AS n_sub FROM seg_{BPE_MERGES}
        ),
        docw AS (
          SELECT d.lang, w AS word
          FROM documents d, UNNEST(string_split_regex(
            trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')), ' +')) t(w)
          WHERE w != ''
        )
        SELECT lang, count(*)::BIGINT AS n_words,
               sum(n_sub)::BIGINT AS n_bpe_tokens,
               floor(sum(n_sub)::DOUBLE / count(*) * 10000) / 10000
                 AS fertility
        FROM docw JOIN vocab USING (word)
        GROUP BY lang
        ORDER BY lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import maybe_broadcast

    _, seg = _bpe_fit(spark, sf_dir, final_seg=True)
    vocab = seg.select("word", F.size("s").cast("long").alias("n_sub"))
    d = load(spark, sf_dir, "documents")
    docw = d.select(
        "lang",
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower("text"), "[^a-z]+", " ")), " +"
            )
        ).alias("word"),
    ).filter(F.col("word") != "")
    # gated on the fit's final barrier, as in bpe_tokenize_corpus
    return (
        docw.join(
            maybe_broadcast(vocab, _BPE_VOCAB_BROADCAST_BOUND, probe=seg),
            "word",
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            (
                F.floor(
                    F.col("n_bpe_tokens").cast("double")
                    / F.col("n_words")
                    * 10000
                )
                / 10000
            ).alias("fertility"),
        )
        .orderBy("lang")
    )
